"""Local mimic of the driver's correctness gate.

Runs each __spark_entry__.queries() entry on sf0.01, runs the matching
oracle_sql() in DuckDB (tables pre-registered as views), and compares
row count / column names / values (exact match after both sides' rounding,
NaN==NULL). Usage:

    python tools/check.py [--sf 0.1] [key ...]   # all keys, or a subset

--sf N overrides the scale factor (default sf0.01, or $CHECK_SF_DIR):
scale-dependent divergence — partition-count effects, fixed-point
overflow (the r6 BETA_SCALE class), window-buffer paths — only shows up
at larger inputs, so a representative subset runs at sf0.1 per round
(recorded in README).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")


def _parse_args(argv: list[str]) -> list[str]:
    """Consume --sf N (rewrites the module-level SF_DIR); return keys."""
    global SF_DIR
    keys = []
    it = iter(argv)
    for a in it:
        if a == "--sf":
            SF_DIR = f"/root/testdata/sf{next(it)}"
        elif a.startswith("--sf="):
            SF_DIR = f"/root/testdata/sf{a.split('=', 1)[1]}"
        else:
            keys.append(a)
    return keys


def get_spark():
    from pyspark.sql import SparkSession

    # env knobs (scale_gate heavy-pair slices): a 200k-vector pair join
    # at local[8]/8g pays GC + spill the 8-key driver gate never sees —
    # the replica gate sizes its dedicated slices up instead
    cpus = os.environ.get("CHECK_SPARK_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("CHECK_SHUFFLE_PARTS", cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
        .config("spark.driver.memory",
                os.environ.get("CHECK_DRIVER_MEM", "8g"))
        .appName("check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _kind(dtype) -> str | None:
    """Coarse dtype family for driver-hash parity: the driver stringifies
    values, so int64 662 vs float64 662.0 hash-differ even when the exact
    values match (the r8 lang_source_agg/events_props_agg failure class:
    DuckDB sum(INT) -> HUGEINT -> pandas float64 vs Spark BIGINT)."""
    k = np.dtype(dtype).kind if not isinstance(dtype, pd.api.types.CategoricalDtype) else "O"
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}.get(k)


def kind_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Columns whose dtype family differs cross-engine (int vs float etc.).
    Null-carrying columns are exempt: pandas upcasts nullable ints to
    float64 on BOTH sides, and a null-pattern divergence is a value
    failure the value compare already reports."""
    out = []
    for c in sdf.columns:
        if c not in odf.columns:
            continue
        ks, ko = _kind(sdf[c].dtype), _kind(odf[c].dtype)
        if ks is None or ko is None or ks == ko:
            continue
        if sdf[c].isna().any() or odf[c].isna().any():
            continue
        out.append(f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
    return out


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> str:
    if len(sdf) != len(odf):
        return f"ROWS spark={len(sdf)} oracle={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"COLS spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    a, b = canon(sdf), canon(odf)
    bad = []
    for c in a.columns:
        x, y = a[c], b[c]
        if np.issubdtype(x.dtype, np.number) or np.issubdtype(y.dtype, np.number):
            x = pd.to_numeric(x, errors="coerce").astype(float)
            y = pd.to_numeric(y, errors="coerce").astype(float)
            neq = ~((x.isna() & y.isna()) | (x == y))
            if neq.any():
                d = (x - y).abs().max()
                bad.append(f"{c}: {int(neq.sum())} diff (maxabs={d})")
        else:
            neq = ~(x.eq(y) | (x.isna() & y.isna()))
            if neq.any():
                bad.append(f"{c}: {int(neq.sum())} diff")
    bad.extend(f"DTYPE {m}" for m in kind_mismatches(sdf, odf))
    return "; ".join(bad) if bad else ""


def verdict(tag: str, key: str, detail: str, total: float, spark_s: float,
            oracle_s: float | None = None) -> str:
    """One per-key verdict line: total seconds, then the Spark and (when an
    oracle ran) DuckDB seconds. tools/scale_gate.py's _LINE parses it."""
    split = f"spark {spark_s:.1f}s"
    if oracle_s is not None:
        split += f", oracle {oracle_s:.1f}s"
    return f"{tag:5s} {key}: {detail} ({total:.1f}s; {split})"


def main(keys: list[str]) -> int:
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    spark = get_spark()
    qs, orc = E.queries(), E.oracle_sql()

    # Ad-hoc multi-key invocations (explicit key list) release every
    # session cache between keys: 3 heavy pair keys through one process
    # accumulated ~103 GB RSS and got kernel-OOM-killed (r13 judge);
    # the full driver-style run keeps the caches — cross-key sharing of
    # the materialized bars/pair tables is what makes 274 keys feasible.
    # Override either way with CHECK_RELEASE_BETWEEN_KEYS=1/0.
    _rel_env = os.environ.get("CHECK_RELEASE_BETWEEN_KEYS")
    release_between = (bool(keys) if _rel_env is None
                       else _rel_env not in ("0", "false", ""))

    def fresh_con():
        """A NEW DuckDB connection per oracle. One long-lived connection
        accumulated native memory across the 253-query run and died with
        'Failed to allocate block of 16384 bytes' ~185 keys into the
        sf0.1/x10 gates (a hard std::bad_alloc abort on one run, a
        caught per-query OOM on another) while the box showed >100 GB
        free — fragmentation/arena growth, not data size. View setup is
        10 trivial statements; per-key reconnect removes the whole
        accumulation class."""
        from pandas_ta_spark.sources.bars import TABLES

        c = duckdb.connect()
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        return c

    n_ok = n_bad = n_rowsonly = 0
    for k in qs:
        if keys and k not in keys:
            continue
        t0 = time.time()
        try:
            sdf = qs[k](spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {k}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_bad += 1
            continue
        spark_s = time.time() - t0
        if k not in orc:
            status = "rows-only" if len(sdf) > 0 else "ROWS-ONLY-EMPTY"
            print(verdict("ok?" if len(sdf) else "FAIL", k,
                          f"{status} rows={len(sdf)}", time.time() - t0, spark_s))
            n_rowsonly += 1
            continue
        t1 = time.time()
        try:
            con = fresh_con()
            try:
                odf = con.execute(orc[k]).df()
            finally:
                con.close()
        except Exception as e:
            print(f"FAIL  {k}: oracle error: {type(e).__name__}: {str(e)[:300]}")
            n_bad += 1
            continue
        oracle_s = time.time() - t1
        msg = compare(sdf, odf)
        if msg:
            print(verdict("FAIL", k, msg, time.time() - t0, spark_s, oracle_s))
            n_bad += 1
        else:
            print(verdict("OK", k, f"rows={len(sdf)}", time.time() - t0,
                          spark_s, oracle_s))
            n_ok += 1
        if release_between:
            del sdf, odf
            from pandas_ta_spark.caches import release_session_caches

            release_session_caches(spark)
    print(f"\n{n_ok} ok, {n_bad} fail, {n_rowsonly} rows-only")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main(_parse_args(sys.argv[1:])))
