"""r15: the bucket-parallel per-symbol rank (plans/kernels.global_rn0)
must equal the single-window row_number it replaced, for any bucket
width — it feeds both chunked execution paths (epoch-chunked kernels,
row-chunked strategies), where a wrong rank silently shifts chunk
boundaries and OLS x positions."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _frame(spark, n=3000, symbols=("A", "B", "C")):
    rng = np.random.default_rng(11)
    frames = []
    for i, s in enumerate(symbols):
        # multi-day span with uneven per-day density + a same-ts-cluster
        # day boundary straddle: offsets grow irregularly so day buckets
        # hold wildly different row counts
        step_s = rng.integers(30, 4000, n).cumsum()
        ts = pd.Timestamp("2023-03-01") + pd.to_timedelta(step_s + i, "s")
        close = 100 + np.cumsum(rng.normal(0, 0.5, n))
        frames.append(pd.DataFrame({
            "symbol": s, "ts": ts,
            "open": close, "high": close + 0.3, "low": close - 0.3,
            "close": close, "volume": rng.integers(1, 500, n).astype("f8"),
        }))
    return spark.createDataFrame(pd.concat(frames)).repartition(5)


@pytest.mark.parametrize("bucket_us", [
    3_600_000_000,          # 1 hour: many buckets per symbol
    86_400_000_000,         # 1 day: the default
    10**18,                 # one bucket: the degenerate serial case
])
def test_global_rn0_matches_single_window(spark, bucket_us):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pandas_ta_spark.plans.kernels import global_rn0

    # NULL keys keep their rows and rank as the single window ranks
    # them: one NULL-ts row per symbol (NULLs sort first) and one
    # NULL-symbol row — one per group, so every rank stays deterministic
    df = _frame(spark)
    df = df.unionByName(spark.createDataFrame(
        [(s, None) for s in ("A", "B", "C")]
        + [(None, pd.Timestamp("2023-03-02").to_pydatetime())],
        "symbol string, ts timestamp",
    ), allowMissingColumns=True)
    got = (global_rn0(df, out="_rn", bucket_us=bucket_us)
           .select("symbol", "ts", "_rn")
           .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    w = Window.partitionBy("symbol").orderBy("ts")
    want = (df.withColumn("_rn", F.row_number().over(w) - F.lit(1))
            .select("symbol", "ts", "_rn")
            .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert len(got) == len(want) == df.count()
    assert got["_rn"].tolist() == want["_rn"].tolist()
    # column-order contract: df's columns first, then the rank
    full = global_rn0(df, out="_rn", bucket_us=bucket_us)
    assert full.columns == df.columns + ["_rn"]


def test_row_chunked_strategy_exact_on_multiday_frame(spark):
    """End-to-end: the row-chunked strategy path (which now keys its
    chunks on the bucket-parallel rank) stays bit-identical to the
    plain path on a frame whose day buckets are uneven."""
    from pandas_ta_spark.plans.strategy import (
        apply_strategy, apply_strategy_chunked_rows)
    from pandas_ta_spark.registry import make

    inds = [make("sma", length=20), make("linreg", length=14),
            make("cfo", length=9)]
    df = _frame(spark, n=1500)
    plain = (apply_strategy(df, inds, auto_chunk_rows=None)
             .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    chunked = (apply_strategy_chunked_rows(df, inds, lookback=19,
                                           chunk_rows=257)
               .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert list(plain.columns) == list(chunked.columns)
    for c in ("SMA_20", "LR_14", "CFO_9"):
        a = plain[c].to_numpy()
        b = chunked[c].to_numpy()
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), (c, int((~same).sum()))


def test_renamed_ols_kernel_keeps_pos_dependent(spark):
    """A prefix-renamed OLS-family kernel must still be flagged
    pos_dependent (the _renamed wrapper rebuilds the KernelSpec), so the
    chunked strategy paths attach the global row position and renamed
    chunked output stays bit-identical to the plain path."""
    from pandas_ta_spark.plans.strategy import (
        apply_strategy, apply_strategy_chunked_rows)
    from pandas_ta_spark.registry import make
    from pandas_ta_spark.strategy_spec import _renamed

    ind = _renamed(make("linreg", length=14), "PRE", None)
    assert ind.kernel is not None and ind.kernel.pos_dependent

    inds = [ind, make("sma", length=20)]
    df = _frame(spark, n=1200)
    plain = (apply_strategy(df, inds, auto_chunk_rows=None)
             .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    chunked = (apply_strategy_chunked_rows(df, inds, lookback=19,
                                           chunk_rows=311)
               .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert "PRE_LR_14" in plain.columns
    for c in ("PRE_LR_14", "SMA_20"):
        a = plain[c].to_numpy()
        b = chunked[c].to_numpy()
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), (c, int((~same).sum()))
