"""Profile one bench.py shape, run by run.

    python tools/profile.py <24|145|x100|skew|ivf|minhash> [reps]

Builds bench.py's own session and input frames on local[$SPARK_GRAFT_CPUS]
(default 32, as bench.py) at $SPARK_GRAFT_SF_DIR. Each variant of the
shape runs once untimed, then `reps` rounds (default 3) run them in
alternating order, each run under its own job group. Per run, one JSON
line: wall_s, plan_s (the Python-side plan build; the 145 shape's plan
cost) and the group's perfbench.sparkstats.StatusStore metrics. The last
round also prints each variant's stage table; a summary line of median
walls ends the output (for ivf, the line tools/drift_bands.py reads).
A/B a headline shape by running `profile.py 24|145|x100` from each checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from typing import Callable, NamedTuple

# the repo root replaces this script's directory on sys.path: bench, the
# package and perfbench import from it, and this file no longer shadows
# the stdlib `profile` module that cProfile (imported by pyspark) loads
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Variant(NamedTuple):
    build: Callable  # returns the DataFrame the run forces
    conf: dict = {}  # session conf set around the run
    prep: Callable | None = None  # untimed, before every run


def shape_24(spark, sf_dir, tmp):
    from bench import cached_ticks, strategy_indicators
    from pandas_ta_spark.plans.kernels import run_kernels
    from pandas_ta_spark.plans.strategy import apply_strategy

    ticks = cached_ticks(spark, sf_dir)
    strat24 = strategy_indicators()
    windows = [i for i in strat24 if i.kernel is None]
    kernels = [i.kernel for i in strat24 if i.kernel is not None]
    out = {
        "noop_scan": Variant(lambda: ticks),
        "window_only": Variant(lambda: apply_strategy(ticks, windows)),
        "kernel_only": Variant(lambda: run_kernels(ticks, kernels)),
        # the kernel pass over the window stage's wide output, as in full
        "kernel_after_windows": Variant(lambda: run_kernels(
            apply_strategy(ticks, windows), kernels)),
        "full": Variant(lambda: apply_strategy(ticks, strat24)),
    }
    for batch in ("10000", "65536", "262144"):
        out[f"full_arrowbatch_{batch}"] = Variant(out["full"].build, {
            "spark.sql.execution.arrow.maxRecordsPerBatch": batch})
    return out


def shape_145(spark, sf_dir, tmp):
    from bench import all_indicators, cached_ticks
    from pandas_ta_spark.plans.strategy import apply_strategy

    ticks = cached_ticks(spark, sf_dir)
    inds = all_indicators()
    expr = [i for i in inds if i.kernel is None]
    sets = {
        "full": inds,
        "no_candles": [i for i in inds if i.category != "candles"],
        "candles_only": [i for i in inds if i.category == "candles"],
        "kernel_only": [i for i in inds if i.kernel is not None],
        "expr_only": expr,
        "expr_noncandle": [i for i in expr if i.category != "candles"],
    }
    out = {name: Variant(lambda w=w: apply_strategy(ticks, w))
           for name, w in sets.items()}
    out["full_nocodegen"] = Variant(out["full"].build, {
        "spark.sql.codegen.wholeStage": "false"})
    return out


def shape_x100(spark, sf_dir, tmp):
    from bench import cached_ticks, replicate, strategy_indicators
    from pandas_ta_spark.plans.strategy import apply_strategy

    rep_df = replicate(cached_ticks(spark, sf_dir), 100)
    rep_df.cache().count()
    strat24 = strategy_indicators()
    return {"x100": Variant(lambda: apply_strategy(rep_df, strat24))}


def shape_skew(spark, sf_dir, tmp):
    from bench import cached_ticks, skew_frame, strategy_indicators
    from pandas_ta_spark.plans.strategy import (
        apply_strategy, apply_strategy_chunked, apply_strategy_chunked_rows, split_chunkable)

    skew_df = skew_frame(cached_ticks(spark, sf_dir))
    skew_df.cache().count()
    strat24 = strategy_indicators()
    lb, bounded, _ = split_chunkable(strat24)
    return {
        "rows_auto": Variant(lambda: apply_strategy(skew_df, bounded)),
        "rows_64k": Variant(lambda: apply_strategy_chunked_rows(
            skew_df, bounded, lb, 65_536)),
        "rows_16k": Variant(lambda: apply_strategy_chunked_rows(
            skew_df, bounded, lb, 16_384)),
        "time_5d": Variant(lambda: apply_strategy_chunked(
            skew_df, bounded, lookback=lb, chunk="5 days")),
        "auto_24": Variant(lambda: apply_strategy(skew_df, strat24)),
    }


def shape_ivf(spark, sf_dir, tmp):
    """The bench's x10 IVF build, split at the package's own cache steps."""
    from bench import write_x10_vectors
    from pandas_ta_spark.caches import invalidate_dir
    from pandas_ta_spark.ext import SUITE as EXT
    from pandas_ta_spark.ext.similarity import _ivf_lists, _spark_vectors_cached

    write_x10_vectors(spark, sf_dir, tmp)

    def vecs():
        return _spark_vectors_cached(spark, tmp)

    def lists():
        return _ivf_lists(spark, tmp)[2]

    def probe():
        return EXT["topk_cosine_ivf"].query(spark, tmp)

    def cold():
        invalidate_dir(spark, tmp)

    return {
        "vecs_cache_build": Variant(vecs, prep=cold),
        "ivf_build": Variant(lists, prep=lambda: (cold(), vecs())),
        "first_probe": Variant(probe, prep=lambda: (cold(), lists())),
        "steady_probe": Variant(probe, prep=lists),
    }


def shape_minhash(spark, sf_dir, tmp):
    from pandas_ta_spark.caches import release_session_caches
    from pandas_ta_spark.ext import SUITE as EXT
    from pandas_ta_spark.ext.dedup import _banded, _hashed_shingles, _minhash_sig
    from pandas_ta_spark.sources.bars import load_table

    # doc_id-partitioned, the layout dedup_minhash_lsh feeds these steps
    docs = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
            .repartition("doc_id"))

    def cold():
        release_session_caches(spark)

    return {
        "dedup_minhash_lsh": Variant(
            lambda: EXT["dedup_minhash_lsh"].query(spark, sf_dir), prep=cold),
        "shard_pack_tokens": Variant(
            lambda: EXT["shard_pack_tokens"].query(spark, sf_dir), prep=cold),
        "hashed_shingles": Variant(lambda: _hashed_shingles(docs)),
        "minhash_sig": Variant(lambda: _minhash_sig(docs)),
        "banded": Variant(lambda: _banded(_minhash_sig(docs))),
    }


SHAPES = {"24": shape_24, "145": shape_145, "x100": shape_x100,
          "skew": shape_skew, "ivf": shape_ivf, "minhash": shape_minhash}

STAGE_FIELDS = (("tasks", "numCompleteTasks", 1), ("run_s", "executorRunTime", 1e3),
                ("cpu_s", "executorCpuTime", 1e9), ("gc_s", "jvmGcTime", 1e3),
                ("shr_mb", "shuffleReadBytes", 2**20), ("shw_mb", "shuffleWriteBytes", 2**20))


def print_stages(store, group):
    jobs = store.group_jobs(group)
    print(f"stages of {group}\n stage " + " ".join(
        f"{f:>7}" for f, _, _ in STAGE_FIELDS) + "  name")
    for sid in sorted({s for j in jobs for s in j["stageIds"]}):
        for att in store._get(f"/stages/{sid}"):
            if att["status"] != "SKIPPED":
                print(f"{sid:>6} " + " ".join(
                    f"{att[k] / d:>7.4g}" for _, k, d in STAGE_FIELDS)
                    + "  " + att["name"].split("\n")[0][:60])


def measure(spark, shape, variants, reps):
    """Warm each variant once, then `reps` rounds in alternating order;
    return each variant's wall seconds."""
    from bench import force
    from perfbench.sparkstats import StatusStore

    sc = spark.sparkContext
    store = StatusStore(sc)
    names = list(variants)
    walls = {name: [] for name in names}
    for rnd in range(reps + 1):  # round 0 warms
        for name in names if rnd % 2 == 0 else names[::-1]:
            v = variants[name]
            group = f"{shape}.{name}.{rnd}"
            if v.prep:
                sc.setJobGroup(group + ".prep", "untimed prep")
                v.prep()
            sc.setJobGroup(group, name)
            saved = {k: spark.conf.get(k) for k in v.conf}
            for k, val in v.conf.items():
                spark.conf.set(k, val)
            try:
                t0 = time.perf_counter()
                df = v.build()
                t1 = time.perf_counter()
                force(df)
                t2 = time.perf_counter()
            finally:
                for k, val in saved.items():
                    spark.conf.set(k, val)
            if rnd == 0:
                continue
            walls[name].append(t2 - t0)
            metrics = {k: round(x, 3) for k, x in store.op_metrics(group).items()}
            print(json.dumps({"shape": shape, "variant": name, "rep": rnd,
                              "wall_s": round(t2 - t0, 3),
                              "plan_s": round(t1 - t0, 3), **metrics}), flush=True)
            if rnd == reps:
                print_stages(store, group)
    return walls


def main():
    if len(sys.argv) not in (2, 3) or sys.argv[1] not in SHAPES:
        raise SystemExit(__doc__)
    shape = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) == 3 else 3
    if reps < 1:
        raise SystemExit("reps must be >= 1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        raise SystemExit("set $SPARK_GRAFT_SF_DIR to the test-data dir (e.g. .../sf0.1)")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from bench import session
    from pandas_ta_spark.caches import invalidate_dir

    spark = session(cpus)
    tmp = tempfile.mkdtemp(prefix="profile_")
    try:
        walls = measure(spark, shape, SHAPES[shape](spark, sf_dir, tmp), reps)
    finally:
        invalidate_dir(spark, tmp)
        shutil.rmtree(tmp, ignore_errors=True)
    stages = {name: round(statistics.median(w), 3) for name, w in walls.items()}
    metric = f"profile_{shape}"
    if shape == "ivf":
        metric = "ivf_x10_build_profile"
        stages["build_net_equiv"] = round(
            stages["vecs_cache_build"] + stages["ivf_build"]
            + stages["first_probe"] - stages["steady_probe"], 3)
    print(json.dumps({"metric": metric, "sf_dir": sf_dir, "cpus": int(cpus),
                      "reps": reps, "stages": stages}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
