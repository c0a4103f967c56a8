"""Benchmark of pandas_ta_spark: one workload, one seed, one process.

    python3 perfbench/run.py --workload ta_hot_symbol --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. One Python process starts Spark on
``local[<cores>]`` and runs a closed loop with one client: each op (one
public-API call plus full evaluation through the ``noop`` sink) starts
when the previous one has finished and been checked. Inputs are made
from ``--seed`` under ``.perfbench/`` and removed at exit.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` prints its per-layer metrics: every other cycle runs with
spans and Spark status-store metrics, followed by single-layer probes
whose spans and codegen fallbacks are kept apart from the ops'; the
spans are written to ``.perfbench/traces/``. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # setup_s is the median of this many input set-ups

LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{HH:mm:ss}} %p %c{{1}}: %m%n%throwable{{short}}
appender.codegen.type = File
appender.codegen.name = codegen
appender.codegen.fileName = {path}
appender.codegen.layout.type = PatternLayout
appender.codegen.layout.pattern = %d %p %c{{1}}: %m%n%throwable{{short}}
logger.wscg.name = org.apache.spark.sql.execution.WholeStageCodegenExec
logger.wscg.level = warn
logger.wscg.additivity = false
logger.wscg.appenderRef.codegen.ref = codegen
logger.cg.name = org.apache.spark.sql.catalyst.expressions.codegen
logger.cg.level = warn
logger.cg.additivity = false
logger.cg.appenderRef.codegen.ref = codegen
"""


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, work: str, seed: int, sizes, tracer):
        self.spark = spark
        self.data_dir = os.path.join(work, "data")
        self.seed = seed
        self.sizes = sizes
        self.tracer = tracer
        self.shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    log4j = os.path.join(work, "log4j2.properties")
    with open(log4j, "w") as f:
        f.write(LOG4J.format(path=os.path.join(work, "codegen.log")))
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        # at these input sizes coalescing would put each stage on one core
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
        .config("spark.sql.windowExec.buffer.spill.threshold", "2097152")
        .config("spark.driver.memory", "3g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Dlog4j2.configurationFile=file:{log4j}")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop Spark, then wait until the JVM and every Python worker it
    forked have exited."""
    from pyspark import SparkContext

    import procstat

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while len(procstat.tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def run_op(ctx, wl, op, i: int, traced: bool, store) -> dict:
    """Time one op, then check its output against the reference."""
    from pyspark.sql import Observation

    import procstat
    from workloads import force

    sc = ctx.spark.sparkContext
    exprs = wl.digest_exprs(op)
    obs = Observation(f"digest{i}")
    before = procstat.snapshot() if traced else None
    rec = {"name": op.name, "span": op.span, "cold": op.cold,
           "rows": op.rows, "traced": traced}
    sc.setJobGroup(f"call{i}", op.name)
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(op.span, i):
            df = op.build()
        rec["call_s"] = time.perf_counter() - t0
        sc.setJobGroup(f"op{i}", op.name)
        with ctx.tracer.span("spark.exec", i):
            force(df.observe(obs, *exprs))
        rec["wall"] = time.perf_counter() - t0
        err = wl.check(op, df, obs.get)
    except Exception as e:  # an op that raises counts as failed
        rec.setdefault("wall", time.perf_counter() - t0)
        err = f"{type(e).__name__}: {e}"
        traceback.print_exc(file=sys.stderr)
    rec["ok"] = err is None
    if err is not None:
        print(f"op {i} ({op.name}) failed: {err}", file=sys.stderr)
    if traced:
        after = procstat.snapshot()
        rec["worker_cpu_s"] = after["worker_cpu_s"] - before["worker_cpu_s"]
        # the op's jobs: those its call started and its evaluation's
        rec["spark"] = store.op_metrics(f"call{i}", f"op{i}")
        rec["router_jobs"] = len(store.group_jobs(f"call{i}"))
    return rec


def measure(ctx, wl, seconds: float, trace: bool, log_path: str) -> dict:
    """Start cycles of ops until ``seconds`` have passed and the
    workload's ``min_cycles`` have run; a traced run alternates traced
    and untraced cycles and runs at least one of each."""
    import procstat
    import sparkstats

    store = sparkstats.StatusStore(ctx.spark.sparkContext) if trace else None
    min_cycles = max(wl.min_cycles, 2) if trace else wl.min_cycles
    records, probes = [], []
    probe_fallbacks = 0
    first_span = len(ctx.tracer.spans)
    deadline = time.perf_counter() + seconds
    fallbacks0 = sparkstats.codegen_fallbacks(log_path)
    cpu0 = procstat.snapshot()["cpu_s"]
    with procstat.TreeSampler() as mem:
        k = 0
        while True:
            traced = trace and k % 2 == 0
            ctx.tracer.enabled = traced
            for op in wl.cycle():
                records.append(run_op(ctx, wl, op, len(records), traced, store))
            if traced:
                # probe spans and fallbacks are kept apart from the ops'
                fb = sparkstats.codegen_fallbacks(log_path)
                ctx.tracer.probing = True
                try:
                    probes.append(wl.probes())
                finally:
                    ctx.tracer.probing = False
                probe_fallbacks += sparkstats.codegen_fallbacks(log_path) - fb
            k += 1
            if time.perf_counter() >= deadline and k >= min_cycles:
                break
    ctx.tracer.enabled = trace
    return {
        "records": records, "probes": probes,
        "cpu_s": procstat.snapshot()["cpu_s"] - cpu0,
        "peak_rss_mb": mem.peak_mb,
        "fallbacks": (sparkstats.codegen_fallbacks(log_path) - fallbacks0
                      - probe_fallbacks),
        "spans": [s for s in ctx.tracer.spans[first_span:] if not s["probe"]],
    }


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(setup_s: float, m: dict) -> dict:
    recs = m["records"]
    ok = [r for r in recs if r["ok"]] or recs
    warm = [r for r in ok if not r["cold"]] or ok
    cold = [r for r in ok if r["cold"]] or ok
    return {
        "setup_s": setup_s,
        "op_s_p50": _median([r["wall"] for r in warm]),
        "cold_op_s": _median([r["wall"] for r in cold]),
        "rows_per_s": (sum(r["rows"] for r in warm)
                       / sum(r["wall"] for r in warm)),
        "cpu_s_per_op": m["cpu_s"] / len(recs),
        "peak_rss_mb": m["peak_rss_mb"],
    }


def per_layer(wl, load_s: list[float], m: dict) -> dict:
    import sparkstats
    from spans import self_times

    recs = m["records"]
    traced = [r for r in recs if r["traced"]]
    out = {"sources.load_s": _median(load_s)}
    for f in sparkstats.FIELDS:
        out[f"spark.{f}"] = statistics.fmean(r["spark"][f] for r in traced)
    out["spark.codegen_fallbacks"] = m["fallbacks"] / len(recs)
    out["python.worker_cpu_s"] = statistics.fmean(
        r["worker_cpu_s"] for r in traced)
    # the call of a strategy op builds its plan and runs the router's
    # jobs; other calls (the corpus queries) also build session caches
    plans = [r for r in traced if r["span"].startswith("strategy.")]
    out["strategy.plan_s"] = _median([r["call_s"] for r in plans
                                      if "call_s" in r])
    out["strategy.router_jobs"] = _median(
        [r["router_jobs"] for r in plans if r["cold"]])
    for name in m["probes"][0]:
        out[name] = _median([p[name] for p in m["probes"]])
    out.update(wl.counts())
    for layer, s in self_times(m["spans"]).items():
        out[f"self.{layer}_s"] = s / len(m["probes"])
    ratios = []
    for key in {(r["name"], r["cold"]) for r in recs}:
        on = [r["wall"] for r in recs if (r["name"], r["cold"]) == key
              and r["traced"]]
        off = [r["wall"] for r in recs if (r["name"], r["cold"]) == key
               and not r["traced"]]
        if on and off:
            ratios.append(_median(on) / _median(off))
    out["trace.overhead_pct"] = 100 * (_median(ratios, 1.0) - 1)
    return out


def run(args, spec: dict, work: str) -> dict:
    import inputs
    import workloads
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    spark = start_spark(work, cores)
    try:
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, work, args.seed, inputs.SCALES[args.scale], tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        prep_s, load_s = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            n_spans = len(tracer.spans)
            wl.prepare()
            prep_s.append(time.perf_counter() - t0)
            load_s += [s["end"] - s["start"] for s in tracer.spans[n_spans:]
                       if s["name"] == "sources.load"]
        # neither is timed, so the reference runs beside the warm-up
        with ThreadPoolExecutor(1) as pool:
            ref = pool.submit(wl.reference)
            wl.warm_up(bool(args.trace))
            ref.result()
        m = measure(ctx, wl, args.seconds, bool(args.trace),
                    os.path.join(work, "codegen.log"))
        setup_s = session_s + statistics.median(prep_s)
        if args.trace:
            metrics = per_layer(wl, load_s, m)
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"),
                        exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".perfbench", "traces",
                f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(setup_s, m)
    finally:
        stop_spark(spark)
    listed = spec["per_layer" if args.trace else "end_to_end"]
    recs = m["records"]
    failed = sum(not r["ok"] for r in recs)
    return {
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {e["name"]: {"value": float(metrics.get(e["name"], 0.0)),
                                "unit": e["unit"]} for e in listed},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                    help="input sizes; smoke is for the smoke test")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pandas_ta_spark", "__init__.py")):
        print(f"perfbench: no pandas_ta_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # the Python workers Spark forks import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench",
                        f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "data"))
    try:
        result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
