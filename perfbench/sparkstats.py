"""Per-op Spark metrics from the status store's REST API.

Every op runs under its own job group, so the jobs it launched, their
stages and the SQL executions that own them can be picked out of the
application's status store afterwards. Only the traced run reads these;
the end-to-end figures come from a run that never touches the API.
"""

from __future__ import annotations

import json
import time
import urllib.request

FIELDS = ("jobs", "tasks", "exchanges", "shuffle_read_mb", "shuffle_write_mb",
          "spill_mb", "executor_run_s", "executor_cpu_s", "gc_s", "task_skew")


class StatusStore:
    def __init__(self, sc):
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_jobs(self, *groups: str, settle_s: float = 5.0) -> list[dict]:
        """The groups' jobs, once the listener bus has marked them all
        finished (it trails the action that ran them)."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if (all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
                    or time.monotonic() > deadline):
                return jobs
            time.sleep(0.05)

    def op_metrics(self, *groups: str) -> dict:
        jobs = self.group_jobs(*groups)
        job_ids = {j["jobId"] for j in jobs}
        out = dict.fromkeys(FIELDS, 0.0)
        out["jobs"] = float(len(jobs))
        slowest = None
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in self._get(f"/stages/{sid}"):
                if att["status"] == "SKIPPED":
                    continue
                out["tasks"] += att["numCompleteTasks"]
                out["shuffle_read_mb"] += att["shuffleReadBytes"] / 2**20
                out["shuffle_write_mb"] += att["shuffleWriteBytes"] / 2**20
                out["spill_mb"] += (att["memoryBytesSpilled"]
                                    + att["diskBytesSpilled"]) / 2**20
                out["executor_run_s"] += att["executorRunTime"] / 1e3
                out["executor_cpu_s"] += att["executorCpuTime"] / 1e9
                out["gc_s"] += att["jvmGcTime"] / 1e3
                if slowest is None or att["executorRunTime"] > slowest[2]:
                    slowest = (sid, att["attemptId"], att["executorRunTime"])
        if slowest is not None:
            q = self._get(f"/stages/{slowest[0]}/{slowest[1]}/taskSummary"
                          "?quantiles=0.5,1.0")["executorRunTime"]
            out["task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        out["exchanges"] = float(self._exchanges(job_ids))
        return out

    def _exchanges(self, job_ids: set[int]) -> int:
        """Shuffle exchanges in the physical plans of the SQL executions
        that ran the given jobs."""
        n = 0
        for ex in self._get("/sql?details=true&planDescription=false"
                            "&length=100000"):
            ran = set(ex.get("successJobIds", ())) | set(
                ex.get("failedJobIds", ())) | set(ex.get("runningJobIds", ()))
            if ran & job_ids:
                n += sum(1 for node in ex.get("nodes", ())
                         if node.get("nodeName") == "Exchange")
        return n


def codegen_fallbacks(log_path: str) -> int:
    """Whole-stage codegen fallbacks recorded in the JVM's log so far."""
    try:
        with open(log_path, errors="replace") as f:
            return sum("Whole-stage codegen disabled" in line for line in f)
    except OSError:
        return 0
