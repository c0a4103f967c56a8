"""r15 ask #4: why is the auto-router's row-chunked backend ~2x the
opt-in time-chunked path on the x20skew80 shape (bench_1: 7.58s vs
3.37s on the same bounded subset)?

Interleaves the candidate variants on the bench's exact skew frame and
prints walls + per-variant stage attribution.

    python tools/profile_skew.py [reps]
"""
from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "61")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
        .config("spark.sql.windowExec.buffer.spill.threshold", "2097152")
        .config("spark.driver.memory", "16g")
        .appName("profile-skew")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from bench import force, strategy_indicators, tick_bars
    from pandas_ta_spark.plans.strategy import (
        apply_strategy, apply_strategy_chunked, apply_strategy_chunked_rows,
        split_chunkable,
    )

    ticks = tick_bars(spark, sf_dir).repartition(61, "symbol")
    ticks.cache().count()
    strat24 = strategy_indicators()

    rep = F.explode(F.sequence(F.lit(0), F.lit(19))).alias("rep")
    skew_df = (
        ticks.select("*", rep)
        .select(
            F.when(F.col("rep") < 16, F.lit("HOT"))
            .otherwise(F.concat("symbol", F.lit("#"), F.col("rep")))
            .alias("symbol"),
            F.timestamp_add("SECOND",
                            F.col("rep") * F.lit(400_000_000), F.col("ts"))
            .alias("ts"),
            "open", "high", "low", "close", "volume",
        )
    )
    skew_df.cache().count()
    skew_lb, bounded, unsafe = split_chunkable(strat24)
    print(f"lb={skew_lb} n_bounded={len(bounded)} n_unsafe={len(unsafe)}",
          flush=True)

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    def totals():
        with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete") as r:
            ss = json.loads(r.read())
        return {
            "run": sum(s["executorRunTime"] for s in ss),
            "cpu": sum(s["executorCpuTime"] // 1_000_000 for s in ss),
            "gc": sum(s["jvmGcTime"] for s in ss),
        }

    variants = {
        # the auto-router's own backend + its chunk choice
        "rows_auto": lambda: apply_strategy(skew_df, bounded,
                                            auto_chunk_rows=1_000_000),
        # same backend, r13's bigger chunks
        "rows_64k": lambda: apply_strategy_chunked_rows(
            skew_df, bounded, skew_lb, 65_536),
        "rows_16k": lambda: apply_strategy_chunked_rows(
            skew_df, bounded, skew_lb, 16_384),
        # the opt-in time-chunked path (bench's 1.78x row)
        "time_5d": lambda: apply_strategy_chunked(
            skew_df, bounded, lookback=skew_lb, chunk="5 days"),
        # full 24ind auto (the EWM half stacked under the chunked half)
        "auto_24": lambda: apply_strategy(skew_df, strat24),
    }
    for b in variants.values():
        force(b())  # warm
    out = {}
    keys = list(variants)
    for r in range(reps):
        for k in (keys if r % 2 == 0 else keys[::-1]):
            m0 = totals()
            t0 = time.time()
            force(variants[k]())
            wall = round(time.time() - t0, 3)
            m1 = totals()
            agg = out.setdefault(k, {"wall": [], "run": [], "cpu": [], "gc": []})
            agg["wall"].append(wall)
            for mk in ("run", "cpu", "gc"):
                agg[mk].append(round((m1[mk] - m0[mk]) / 1000, 3))
    import statistics
    for k in keys:
        a = out[k]
        print(f"{k:10s} wall_med={statistics.median(a['wall']):7.3f} "
              f"run_med={statistics.median(a['run']):8.3f} "
              f"cpu_med={statistics.median(a['cpu']):8.3f} "
              f"gc_med={statistics.median(a['gc']):6.3f} walls={a['wall']}",
              flush=True)
    print("SKEWJSON " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
