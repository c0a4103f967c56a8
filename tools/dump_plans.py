"""Dump the formatted physical plans of bench.py queries.

    python tools/dump_plans.py <bench|bench-skew> <suffix> [name ...]

Writes plans/<context>/<name>_<suffix>.txt (default: every query of the
context), built from bench.py's own session, frames and per-query conf
(local[$SPARK_GRAFT_CPUS] at $SPARK_GRAFT_SF_DIR), so a dump is the plan
the bench times. bench: the headline strategies on
the cached ticks and the LLM-pack queries; bench-skew: the x20skew80 rows
on bench.py's skew frame (`_chunked` is the 5-day time-chunked path).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = REPO


def bench_queries(spark, sf_dir):
    from bench import all_indicators, cached_ticks, strategy_indicators
    from pandas_ta_spark.ext import SUITE as EXT
    from pandas_ta_spark.plans.strategy import apply_strategy

    ticks = cached_ticks(spark, sf_dir)
    strat24, all_inds = strategy_indicators(), all_indicators()
    out = {
        "tick_strategy_24ind": lambda: apply_strategy(ticks, strat24),
        "tick_strategy_all145ind": lambda: apply_strategy(ticks, all_inds),
    }
    for name in ("shard_pack_tokens", "text_stats", "dedup_minhash_lsh",
                 "topk_cosine_ivf", "topk_cosine_ivfpq"):
        out[name] = lambda name=name: EXT[name].query(spark, sf_dir)
    return out


def skew_queries(spark, sf_dir):
    from bench import cached_ticks, skew_frame, strategy_indicators
    from pandas_ta_spark.plans.strategy import (
        apply_strategy, apply_strategy_chunked, split_chunkable)

    skew_df = skew_frame(cached_ticks(spark, sf_dir))
    skew_df.cache().count()
    strat24 = strategy_indicators()
    lb, bounded, _ = split_chunkable(strat24)
    return {
        "tick_strategy_24ind_x20skew80": lambda: apply_strategy(
            skew_df, strat24, auto_chunk_rows=None),
        "tick_strategy_24ind_x20skew80_auto": lambda: apply_strategy(
            skew_df, strat24),
        "tick_strategy_bounded_x20skew80": lambda: apply_strategy(
            skew_df, bounded, auto_chunk_rows=None),
        "tick_strategy_bounded_x20skew80_chunked": lambda: apply_strategy_chunked(
            skew_df, bounded, lookback=lb, chunk="5 days"),
        "tick_strategy_bounded_x20skew80_auto": lambda: apply_strategy(
            skew_df, bounded),
    }


CONTEXTS = {"bench": bench_queries, "bench-skew": skew_queries}


def main():
    if len(sys.argv) < 3 or sys.argv[1] not in CONTEXTS:
        raise SystemExit(__doc__)
    context, suffix, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        raise SystemExit("set $SPARK_GRAFT_SF_DIR to the test-data dir (e.g. .../sf0.1)")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from bench import QUERY_CONF, session

    spark = session(cpus)
    queries = CONTEXTS[context](spark, sf_dir)
    unknown = only - set(queries)
    if unknown:
        raise SystemExit(f"unknown {context} queries: {sorted(unknown)}")
    out_dir = os.path.join(REPO, "plans", context)
    os.makedirs(out_dir, exist_ok=True)
    for name, build in queries.items():
        if only and name not in only:
            continue
        conf = QUERY_CONF.get(name, {})
        saved = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            df = build()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
