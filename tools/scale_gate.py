"""Repeatable beyond-gate scale check: the pinned scale-sensitive key
list (or the FULL 253-key suite) vs DuckDB on an Nx replica of an sf dir.

    python tools/scale_gate.py [--n 100] [--sf-dir /root/testdata/sf0.01]
                               [--full] [--recall] [--round R]
                               [--json PATH] [key ...]

``--recall`` runs the ANN quality section instead: IVF/PQ recall@k vs
brute force at the base dir AND the replica, floor-checked (run_recall)
into RECALL_x{n}.json.

Builds the replica via tools/make_x10.py if the target dir is absent,
then runs tools/check.py (the driver-style exact value-hash gate) over
SCALE_KEYS (or ``--full`` = every __spark_entry__.queries() key, or an
explicit key subset), sliced into bounded subprocesses with ONE capped
retry of any keys a slice failed to report (the r10 x100 run needed
exactly that once — a wall-clock hiccup, not a correctness failure).
With --full/--json the per-key verdicts land in SCALE_r{R}.json — the
single-command, single-artifact form of the x100 pass (VERDICT r10
ask #5).

SCALE_KEYS is the r10 x100 pass set: every fixed-point/overflow class
(the microstructure/risk pack, kyle's KYLE_VOL_MAX cap, the HUGEINT
dtype keys), the dedup/similarity join classes (banded LSH,
pointer-jumping CC, IVF/IVF-PQ), 1M-event behavior skew, and the
flagship anchors. These are the queries where scale-DEPENDENT
divergence has actually bitten (BETA_SCALE r6, dtype r8, second-moment
overflow + LSH fan-out + CC diameter r10).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

SCALE_KEYS = [
    # microstructure/risk: fixed-point + DECIMAL(38,0)/HUGEINT classes
    "vol_parkinson_20", "vol_garman_klass_20", "vol_rogers_satchell_20",
    "vol_yang_zhang_20", "amihud_illiq_20", "cs_spread_2_20",
    "roll_spread_20", "hurst_aggvar", "ar1_half_life",
    "rolling_sharpe_20", "rolling_sortino_20", "var_cvar_95_100",
    "rolling_mdd_100", "kyle_lambda_20", "rolling_beta_24",
    "lead_lag_corr_1h", "pair_spread_z_24",
    # dtype / LM statistics (HUGEINT vs BIGINT folds)
    "lang_source_agg", "events_props_agg", "token_count_bpe",
    "perplexity_bigram", "unigram_kl_by_source",
    # dedup / contamination (banded LSH, span explode, CC rounds)
    "dedup_minhash_lsh", "dedup_cc_clusters", "dedup_spans",
    "contamination_prefix", "contamination_minhash",
    "neardup_cosine_lsh", "semdedup_keep", "semdedup_cc_clusters",
    # ANN index build/probe at Nx corpus
    "topk_cosine_ivf", "topk_cosine_ivfpq",
    # behavior skew over Nx events
    "session_stats_30m", "retention_cohorts", "event_transition_matrix",
    "active_users_daily", "user_rfm_segments",
    # window recursion anchors + long-window + chunking
    "supertrend_7", "macd_12_26_9", "sma_200_large",
    "doc_chunk_128_16", "chunk_dup_rate",
]


# tools/check.py's verdict lines: "<tag> <key>: <detail> (<total>s; spark
# <s>s[, oracle <s>s])"; the oracle part is absent on rows-only keys
_NUM = r"(\d+(?:\.\d+)?)"
_LINE = re.compile(rf"^(OK|FAIL|ok\?)\s+(\S+?):.*?\({_NUM}s; spark {_NUM}s"
                   rf"(?:, oracle {_NUM}s)?\)", re.M)
RECALL_FLOOR = 0.9  # x-replica mean recall must keep >= 90% of base


def run_recall(sf_dir: str, rep_dir: str, n: int, rnd: int) -> int:
    """ANN quality at scale (VERDICT r11 ask #4): recall@k of the IVF and
    PQ indexes vs exact brute force, measured at the BASE sf dir and on
    the Nx replica. Recall is exactly what degrades as the corpus grows
    (more vectors per centroid at fixed NPROBE/K_CENTROIDS), so the gate
    asserts the replica keeps >= RECALL_FLOOR of the base mean recall
    per index family and writes RECALL_x{n}.json."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(HERE))
    import __spark_entry__ as E

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .appName("recall-gate").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    q = E.queries()
    report: dict = {"round": rnd, "n": n, "base": sf_dir,
                    "replica": rep_dir, "floor": RECALL_FLOOR}
    ok = True
    t0 = time.time()
    # pq = raw ADC code-order recall (the compression-loss dashboard);
    # pq_rerank = the served pipeline (ADC shortlist + exact rerank,
    # VERDICT r12 ask #8) — the number with a non-zero base floor
    for fam, key in (("ivf", "topk_ivf_recall"), ("pq", "topk_pq_recall"),
                     ("pq_rerank", "topk_pq_rerank_recall")):
        entry: dict = {"key": key}
        for tag, d in (("base", sf_dir), ("replica", rep_dir)):
            row = (q[key](spark, d)
                   .agg(F.avg("recall").alias("mean_recall"),
                        F.min("recall").alias("min_recall"),
                        F.count(F.lit(1)).alias("n_queries"))
                   .first())
            entry[tag] = {"mean_recall": round(float(row["mean_recall"]), 6),
                          "min_recall": round(float(row["min_recall"]), 6),
                          "n_queries": int(row["n_queries"])}
        ratio = (entry["replica"]["mean_recall"]
                 / entry["base"]["mean_recall"])
        entry["ratio"] = round(ratio, 6)
        entry["ok"] = ratio >= RECALL_FLOOR
        ok = ok and entry["ok"]
        print(f"recall {fam}: base {entry['base']['mean_recall']:.4f} -> "
              f"x{n} {entry['replica']['mean_recall']:.4f} "
              f"(ratio {ratio:.3f}, floor {RECALL_FLOOR}) "
              f"{'ok' if entry['ok'] else 'FAIL'}", flush=True)
        report[fam] = entry
    report["wall_sec"] = round(time.time() - t0, 1)
    report["ok"] = ok
    out_path = os.path.join(os.path.dirname(HERE), f"RECALL_x{n}.json")
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {out_path}")
    return 0 if ok else 1


SLICE_TIMEOUT = 1800  # wall cap per 8-key slice (x100 slices ran <8 min r10)

# Pair-graph keys whose WORK (not just output) grows with replica
# multiplicity by construction: an Nx replica makes every original's N
# perturbed copies mutual near-dups, so the candidate/pair volume is
# quadratic in N no matter how good the banding is. Sharing a 1800s
# slice with 7 other keys starved them at x100-of-sf0.1 (r12: three
# `missing` rows indistinguishable from hangs). They get DEDICATED
# single-key slices with their own budget so the artifact always
# carries a per-key verdict.
HEAVY_PAIR_KEYS = {
    "neardup_cosine_lsh", "semdedup_keep", "semdedup_cc_clusters",
}
SLICE_TIMEOUT_HEAVY = 5400


def _heavy_cpus() -> int:
    """Heavy-slice parallelism: host cores capped at 16 (the measured
    sweet spot), floored at 4."""
    return max(4, min(16, (os.cpu_count() or 8)))


def _heavy_mem_g() -> int:
    """Heavy-slice driver heap: half of MemAvailable capped at 24g,
    floored at 8g — an oversized heap on a small host thrashes/die
    instead of computing (ADVICE r13)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_g = int(line.split()[1]) // (1024 * 1024)
                    return max(8, min(24, avail_g // 2))
    except OSError:
        pass
    return 24


def _run_slice(slice_keys: list[str], env: dict,
               timeout: int = SLICE_TIMEOUT) -> dict[str, dict]:
    """One check.py subprocess over <=8 keys; parse per-key verdicts."""
    try:
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "check.py"), *slice_keys],
            env=env, capture_output=True, text=True, timeout=timeout)
        out = r.stdout
        sys.stdout.write(out)
        sys.stdout.flush()
        if r.returncode and not out:
            sys.stderr.write(r.stderr[-2000:])
    except subprocess.TimeoutExpired as exc:
        out = (exc.stdout or b"").decode() if isinstance(
            exc.stdout, bytes) else (exc.stdout or "")
        print(f"SLICE TIMEOUT after {timeout}s: {slice_keys}")
    return parse_verdicts(out)


def parse_verdicts(out: str) -> dict[str, dict]:
    """Per-key verdicts from check.py's stdout (Spark log lines ignored)."""
    results: dict[str, dict] = {}
    for status, key, sec, spark_sec, oracle_sec in _LINE.findall(out):
        results[key] = {
            "ok": status in ("OK", "ok?"),
            "status": {"OK": "ok", "FAIL": "fail",
                       "ok?": "rows-only"}[status],
            "sec": float(sec),
            "spark_sec": float(spark_sec),
            "oracle_sec": float(oracle_sec) if oracle_sec else None,
        }
    # FAIL lines without a timing suffix (spark/oracle errors)
    for m in re.finditer(r"^FAIL\s+(\S+?):", out, re.M):
        results.setdefault(m.group(1), {"ok": False, "status": "fail", "sec": None,
                                        "spark_sec": None, "oracle_sec": None})
    return results


def main() -> int:
    args = sys.argv[1:]
    n = 100
    sf_dir = "/root/testdata/sf0.01"
    keys: list[str] = []
    full = False
    recall = False
    rnd = int(os.environ.get("SPARK_GRAFT_ROUND", "11"))
    json_path: str | None = None
    i = 0
    while i < len(args):
        if args[i] == "--n":
            n = int(args[i + 1])
            i += 2
        elif args[i] == "--sf-dir":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--full":
            full = True
            i += 1
        elif args[i] == "--recall":
            recall = True
            i += 1
        elif args[i] == "--round":
            rnd = int(args[i + 1])
            i += 2
        elif args[i] == "--json":
            json_path = args[i + 1]
            i += 2
        else:
            keys.append(args[i])
            i += 1
    base = os.path.basename(sf_dir.rstrip("/"))
    rep_dir = f"/tmp/sfx{n}_{base}"
    if not os.path.isdir(rep_dir):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "make_x10.py"),
             sf_dir, str(n)], check=True)
    if recall:
        return run_recall(sf_dir, rep_dir, n, rnd)
    env = dict(os.environ, CHECK_SF_DIR=rep_dir)
    if full:
        sys.path.insert(0, os.path.dirname(HERE))
        import __spark_entry__ as E

        todo = list(E.queries())
    else:
        todo = keys or SCALE_KEYS

    t_start = time.time()
    results: dict[str, dict] = {}
    # chunked: one long-lived gate process per slice keeps peak memory
    # bounded and a slow key from starving the rest of a single timeout.
    # Replica-quadratic pair keys run in their own single-key slices
    # with the heavy budget (r12: they starved to `missing` at x100).
    light = [k for k in todo if k not in HEAVY_PAIR_KEYS]
    heavy = [k for k in todo if k in HEAVY_PAIR_KEYS]
    # heavy slices get a bigger local session: at 200k replica vectors
    # the pair join under check.py's default local[8]/8g thrashes where
    # local[16]/24g computes the same 3.6M pairs in ~6 min (measured).
    # Derived from the host with 16/24g as CAPS (ADVICE r13: a smaller
    # gate host must not launch an oversized JVM that thrashes or dies).
    env_heavy = dict(env, CHECK_SPARK_CPUS=str(_heavy_cpus()),
                     CHECK_DRIVER_MEM=f"{_heavy_mem_g()}g")
    for lo in range(0, len(light), 8):
        results.update(_run_slice(light[lo:lo + 8], env))
    for k in heavy:
        results.update(_run_slice([k], env_heavy,
                                  timeout=SLICE_TIMEOUT_HEAVY))
    # ONE retry pass for keys that failed or never reported (slice
    # timeout / process death): re-run them in fresh slices
    redo = [k for k in todo if not results.get(k, {}).get("ok")]
    if redo:
        print(f"\nretrying {len(redo)} key(s): {redo}")
        redo_light = [k for k in redo if k not in HEAVY_PAIR_KEYS]
        for lo in range(0, len(redo_light), 8):
            for k, v in _run_slice(redo_light[lo:lo + 8], env).items():
                prev = results.get(k)
                v["retried"] = True
                if prev is None or v["ok"] or not prev.get("ok"):
                    results[k] = v
        for k in redo:
            if k not in HEAVY_PAIR_KEYS:
                continue
            # retry under the DEFAULT gate env, not the heavy config —
            # if the oversized JVM itself failed (host too small, heap
            # OOM), rerunning the identical config reproduces the miss
            # (ADVICE r13); the default env computes slower but fits.
            for kk, v in _run_slice([k], env,
                                    timeout=SLICE_TIMEOUT_HEAVY).items():
                prev = results.get(kk)
                v["retried"] = True
                if prev is None or v["ok"] or not prev.get("ok"):
                    results[kk] = v

    missing = [k for k in todo if k not in results]
    n_ok = sum(1 for v in results.values() if v["status"] == "ok")
    n_rows = sum(1 for v in results.values() if v["status"] == "rows-only")
    n_fail = sum(1 for v in results.values() if v["status"] == "fail")
    summary = {
        "n": n, "sf_dir": sf_dir, "replica": rep_dir,
        "total": len(todo), "ok": n_ok, "rows_only": n_rows,
        "fail": n_fail, "missing": missing,
        "wall_sec": round(time.time() - t_start, 1),
    }
    print(f"\nscale x{n}: {n_ok} ok, {n_fail} fail, {n_rows} rows-only,"
          f" {len(missing)} missing of {len(todo)}"
          f" ({summary['wall_sec']:.0f}s)")
    if full and json_path is None:
        json_path = os.path.join(os.path.dirname(HERE),
                                 f"SCALE_r{rnd}.json")
    if json_path:
        with open(json_path, "w") as f:
            json.dump({"summary": summary, "keys": results}, f, indent=1)
        print(f"wrote {json_path}")
    return 1 if (n_fail or missing) else 0


if __name__ == "__main__":
    sys.exit(main())
