"""Batched per-symbol kernel runner (EWM + KERNEL kinds).

The reference runs ~35 indicators as exponential recursions or per-row
Python state machines (SURVEY.md §2 legend EWM/KERNEL — ema, rsi, macd,
supertrend, psar, kama, ...). These are not expressible as SQL window
functions, so they run as ONE ``groupBy("symbol").applyInPandas`` pass:
Arrow ships each symbol's bars to Python once, every requested kernel
column is computed vectorized in pandas (the reference's own substrate, so
parity is exact), and Arrow ships the result back.

Scale notes (100 TB):
- one shuffle on symbol, independent of how many kernels are requested —
  a strategy with 30 EWM indicators costs the same exchange as one;
- constraint: a whole (symbol) group must fit in one executor's memory
  (SURVEY.md §4.3.4). Time-series are naturally bounded per symbol
  (~1e7 rows); finite-carry kernels chunk longer series by
  (symbol, epoch) with carried seed rows (assign_chunks) — see
  streaming/ for the stateful variant;
- pandas ewm/cum kernels are O(n) sequential per group but vectorized in C,
  measured at 1e8 rows/s (BASELINE.md) — the per-group sort dominates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from pandas_ta_spark.operators.base import KernelSpec

# per-(symbol) group memory bound (SURVEY §4.3.4): a whole group must fit
# one executor. 20M rows x ~8 cols x 8B ~= 1.3 GB — beyond that, chunk by
# (symbol, epoch) and carry seed state (assign_chunks; see
# streaming/indicators.py for the state-carry pattern).
MAX_GROUP_ROWS = int(os.environ.get("PTS_MAX_KERNEL_GROUP_ROWS", 20_000_000))


# Epoch-chunked execution: when every kernel in the pass declares a finite
# carry (FIR/rolling kernels), a symbol group larger than this splits into
# (symbol, epoch) chunks of CHUNK_ROWS rows with carried warm-up rows
# (assign_chunks) — results are EXACTLY the unchunked ones, memory is
# bounded per task, and one hot symbol parallelizes across executors.
CHUNK_ROWS = 5_000_000


def _maybe_exceeds_rows(df: DataFrame, rows: int) -> bool:
    """Could ANY symbol group hold >= ``rows`` rows? Decided from the
    optimizer's ESTIMATES (parquet footers / cache metadata — no job).
    A defined rowCount (cached relations, CBO stats) answers exactly;
    otherwise an input under rows x 8 bytes cannot contain that many
    rows at any layout, so small frames skip the epoch-chunked path —
    its groupBy(symbol, epoch) costs an Exchange that the whole-group
    pass avoids when the input is already hash(symbol)-clustered
    (bucketed tables, the strategy's window stage). Unknown stats stay
    chunked: the r13 behavior, and the memory-safe default. Residual
    risk (ADVICE r14): sizeInBytes is COMPRESSED bytes, so a
    dictionary/RLE-heavy input below 8 B/row could skip chunking while
    holding chunk-sized groups — bounded, not silent: the whole-group
    runner hard-errors past MAX_GROUP_ROWS (20M rows ~ 1.3 GB) instead
    of OOMing, and rowCount short-circuits the estimate wherever Spark
    knows it."""
    try:
        st = df._jdf.queryExecution().optimizedPlan().stats()
        rc = st.rowCount()
        if rc.isDefined():
            return int(str(rc.get())) >= rows
        return int(str(st.sizeInBytes())) >= rows * 8
    except Exception:
        return True


# Bucket width for the two-level rank (global_rn0): per-symbol ranks are
# computed bucket-parallel; a bucket only bounds the per-task sort, never
# correctness. One day of microseconds suits bar/tick data (1e3-1e5 rows
# per symbol-day); global_rn0's bucket_us overrides for exotic densities.
RANK_BUCKET_US = 86_400_000_000


def global_rn0(df: DataFrame, out: str = "_pts_rn0",
               bucket_us: int | None = None) -> DataFrame:
    """Append each row's 0-based position in its symbol's ts order —
    ``row_number() OVER (PARTITION BY symbol ORDER BY ts) - 1`` — WITHOUT
    buffering a whole symbol in one task (guide §2.5: the single-window
    form serialized a hot symbol's entire history into one sort task,
    measured as the whole critical-path gap between the row-chunked and
    time-chunked skew paths: a ~7s straggler on a 1.6M-row hot symbol).

    Two-level rank: rows rank within (symbol, time-bucket) groups in
    parallel, and a per-symbol running sum over the tiny
    (symbol, bucket, count) relation supplies each bucket's starting
    offset (bucket = floor(unix_micros(ts) / bucket_us), monotone in ts
    per symbol, so offset + within-bucket rank IS the global rank).
    Exactness needs (symbol, ts) to uniquely order rows — the same
    assumption the single-window form and every per-symbol window in
    this engine make. NULL keys keep their rows: the offsets join keys
    on non-NULL surrogates of (symbol, bucket) — a NULL symbol becomes
    ("", true) beside a real symbol's (symbol, false) — and a NULL ts
    takes the lowest bucket, so it ranks first as NULLs sort in the
    single window. (A null-safe join condition would key the join on
    coalesce/isnull expressions that the rank window's partitioning
    does not satisfy: one more exchange of the wide frame.) Worst case
    (a symbol entirely inside one bucket) degrades to the old
    bucket-serial sort, never to a wrong rank, and the offset window
    always runs on the narrow count relation.
    Output column order: df's columns, then ``out``."""
    from pyspark.sql import functions as F

    b_us = RANK_BUCKET_US if bucket_us is None else bucket_us
    return _bucket_rank(df, b_us, out).select(
        *[F.col(f"`{c}`") for c in df.columns], F.col(out))


def _bucket_rank(df: DataFrame, bucket_us: int, out: str = "_pts_rn0",
                 carry: int | None = None) -> DataFrame:
    """``global_rn0``'s two-level rank, keeping the bucket as
    ``_pts_bkt``. With ``carry``, each row also gets ``_pts_nxt``: the
    (bucket, lo, hi) entries of its symbol's later buckets whose first
    row lies within ``carry`` rows after its bucket's last row, where
    [lo, hi) = [start - carry, start) are the ranks such a bucket takes
    as carry. Every bucket holds >= 1 row, so at most ``carry``
    following buckets qualify; the list is cut on the offsets relation
    (one entry per (symbol, bucket), not per row) and rides the join
    the rank pays anyway. Output: df's columns, ``out``, ``_pts_bkt``
    (and ``_pts_nxt``)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = df.withColumn("_pts_bkt", F.coalesce(
        F.floor(us / F.lit(bucket_us)).cast("long"), F.lit(-(2 ** 63))))
    surrogate = {"_pts_sk": F.coalesce(F.col("symbol"), F.lit("")),
                 "_pts_sn": F.col("symbol").isNull()}
    key = [*surrogate, "_pts_bkt"]
    wb = Window.partitionBy(*key).orderBy("ts")
    counts = b.groupBy("symbol", "_pts_bkt").count()
    wsym = Window.partitionBy("symbol").orderBy("_pts_bkt")
    offs = counts.withColumn("_pts_off", F.coalesce(F.sum("count").over(
        wsym.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)).cast("long"))
    nxt = []
    if carry is not None:
        start = F.col("_pts_off")
        later = F.collect_list(F.struct(
            F.col("_pts_bkt").alias("_pts_chk"),
            (start - F.lit(carry)).alias("_pts_lo"), start.alias("_pts_hi"),
        )).over(wsym.rowsBetween(1, max(carry, 1)))
        end = start + F.col("count")
        offs = offs.withColumn("_pts_nxt", F.filter(
            later, lambda e: e["_pts_lo"] < end))
        nxt = ["_pts_nxt"]
    offs = offs.withColumns(surrogate).select(*key, "_pts_off", *nxt)
    ranked = (
        b.withColumns(surrogate)
        .withColumn("_pts_brn", F.row_number().over(wb))
        .join(offs, key)
        .withColumn(out, F.col("_pts_off") + F.col("_pts_brn") - F.lit(1))
    )
    # restore df's column order (the join fronts its keys); backticks:
    # pass-through names may be dotted (BBL_5_2.0)
    return ranked.select(*[F.col(f"`{c}`") for c in df.columns],
                         out, "_pts_bkt", *nxt)


def _out_schema(df: DataFrame, specs: list[KernelSpec]) -> StructType:
    existing = set(df.columns)
    new_fields = []
    seen: set[str] = set()
    for s in specs:
        for o in s.outputs:
            if o in existing or o in seen:
                raise ValueError(f"kernel output column collision: {o}")
            seen.add(o)
            new_fields.append(StructField(o, DoubleType(), True))
    return StructType(list(df.schema.fields) + new_fields)


def run_kernels(
    df: DataFrame, specs: list[KernelSpec], chunk_rows: int | None = None
) -> DataFrame:
    """Append every spec's output columns in a single applyInPandas pass."""
    if not specs:
        return df
    # applyInPandas resolves pass-through columns by unquoted name; dotted
    # names (BBL_5_2.0) break it — rename around the pass
    dotted = {c: c.replace(".", "․") for c in df.columns if "." in c}
    if dotted:
        df = df.withColumnsRenamed(dotted)
        out = run_kernels(df, specs, chunk_rows)
        return out.withColumnsRenamed({v: k for k, v in dotted.items()})
    carries = [s.carry_rows for s in specs]
    leads = [s.lead_rows for s in specs]
    chunk = CHUNK_ROWS if chunk_rows is None else chunk_rows
    if (all(c is not None for c in carries)
            and chunk > max(carries, default=0)
            and chunk > max(leads, default=0)
            and _maybe_exceeds_rows(df, chunk)):
        return _run_chunked(df, specs, chunk, max(carries), max(leads))
    out_schema = _out_schema(df, specs)
    runner = _make_runner(specs, MAX_GROUP_ROWS)
    return df.groupBy("symbol").applyInPandas(runner, out_schema)


def _make_runner(specs: list[KernelSpec], max_rows: int | None = None):
    """Build the per-group pandas function for a kernel pass.

    Kernels execute on a NARROW working frame (ts + the union of declared
    bar inputs), not on the full pass-through frame: inside a strategy the
    incoming group carries 200+ window-stage columns, and 60 kernels each
    inserting 1-4 columns into a frame that wide re-consolidates the pandas
    block manager per insert (O(width) memcpy x kernels — measured 15s of
    a 32s all-indicator pass at sf0.1). Outputs are spliced back with ONE
    concat. numpy warnings are silenced: warmup NaN/div-by-zero is defined
    behavior (reference emits NaN there too), and each emitted warning is
    worker-stderr IPC."""
    import warnings

    import numpy as np
    import pandas as pd

    fns = [s.fn for s in specs]
    # _pts_rn0 (global 0-based row position, when the frame carries one)
    # rides along so shift-sensitive kernels (the OLS family) can
    # regress against the same global x as whole groups.
    need = ["ts", "_pts_rn0"]
    for s in specs:
        for c in s.inputs:
            if c not in need:
                need.append(c)
    out_cols = [o for s in specs for o in s.outputs]

    def runner(pdf):
        if max_rows is not None and len(pdf) > max_rows:
            raise ValueError(
                f"kernel group of {len(pdf)} rows exceeds the per-executor "
                f"bound ({max_rows}); unbounded-state kernels in this "
                f"pass prevent epoch chunking — use streaming/ for such "
                f"series (PTS_MAX_KERNEL_GROUP_ROWS overrides)"
            )
        # Sort the NARROW frame only and splice outputs back through the
        # inverse permutation: gathering the wide pass-through frame
        # (Arrow gives one block per column) costs ~0.8s/group at 127
        # cols, and inside a strategy rows already arrive ts-sorted from
        # the window stage, so the common case skips the sort entirely.
        # Row order of the returned group is irrelevant to Spark.
        # int64 view: NaT is int64 min, so a NULL ts sorts first as in
        # every window (datetime64 argsort puts NaT last)
        ts = pdf["ts"].to_numpy()
        if ts.dtype.kind == "M":
            ts = ts.view("int64")
        perm = None if _is_sorted(ts) else np.argsort(ts, kind="stable")
        work = pdf[[c for c in need if c in pdf.columns]]
        if perm is not None:
            work = work.take(perm)
        work = work.reset_index(drop=True)
        with np.errstate(all="ignore"), warnings.catch_warnings():
            warnings.simplefilter("ignore")
            for fn in fns:
                work = fn(work)
        if perm is not None:
            inv = np.empty_like(perm)
            inv[perm] = np.arange(len(perm))
            # per-column numpy gather: DataFrame.take would consolidate
            # the ~100-block work frame first
            outs = pd.DataFrame(
                {o: work[o].to_numpy()[inv] for o in out_cols}, index=pdf.index
            )
        else:
            outs = work[out_cols]
            outs.index = pdf.index
        # copy=False keeps per-column blocks — Arrow serializes column-
        # by-column, so consolidating the 250-col result is pure waste
        return pd.concat([pdf, outs], axis=1, copy=False)

    return runner


def _is_sorted(a) -> bool:
    import numpy as np

    return len(a) < 2 or bool(np.all(a[:-1] <= a[1:]))


def assign_chunks(df: DataFrame, carry: int, *, rows: int | None = None,
                  bucket_us: int | None = None, lead: int = 0) -> DataFrame:
    """Exact chunk-and-carry assignment (SURVEY §4.3.4), shared by the
    kernel epoch pass and both chunked strategy paths.

    Chunks are ranges of ``_pts_rn0``, the 0-based rank in the symbol's
    ts order: ``rows`` per chunk (row chunks; ``global_rn0`` ranks
    unless ``df`` already carries the column), or the rank buckets of
    ``bucket_us`` microseconds of ts (time chunks; a chunk IS a
    ``global_rn0`` bucket, so the rank and the chunk bounds come from
    one offsets relation). One carry rule serves both: a row is carried
    into every later chunk whose first row lies within ``carry`` rows
    after it. For row chunks that is chunk k+1 for chunk k's last
    ``carry`` rows (chunks are ``>= carry`` rows); for time chunks it
    can span several chunks holding fewer rows than ``carry`` and skips
    empty ones (they have no rank range), so every chunk sees the
    ``carry`` rows before its first row at ANY chunk size. With
    ``lead > 0`` (row chunks), the first ``lead`` rows of a non-first
    chunk are also carried back into chunk k-1. Output: the ranked
    frame plus ``_pts_chk`` (the chunk) and ``_pts_carry``; grouping by
    (symbol, ``_pts_chk``) gives every chunk its full context, and the
    caller drops the carry entries after computing.

    - Explode rather than union filtered copies: one subtree, so the
      rank evaluates once per action (the union form re-ran the
      per-symbol sort per branch: 9.3s -> 6.5s on a 1.6M-row hot
      symbol).
    - Each row explodes into its own entry plus candidate carry
      entries, each with the rank range [lo, hi) it takes; a plain
      Filter keeps the ones whose range holds the row. No per-row
      array lambda: Spark evaluates those without codegen.
    - Carries past a symbol's last row chunk land in phantom groups
      that hold only carry rows (<= ``carry`` of them, all dropped) —
      cheaper than suppressing them.
    - ``_pts_rn0`` stays aboard: position-dependent kernels (the OLS
      family, ``KernelSpec.pos_dependent``) read it so their x positions
      stay global instead of restarting per chunk."""
    from pyspark.sql import functions as F

    def entry(chk, lo, hi):
        return F.struct(chk.alias("_pts_chk"), lo.alias("_pts_lo"),
                        hi.alias("_pts_hi"))

    rn, e = F.col("_pts_rn0"), F.col("_pts_e")
    if bucket_us is None:
        base = df if "_pts_rn0" in df.columns else global_rn0(df)
        chk = F.floor(rn / F.lit(rows)).cast("long")
        start = chk * F.lit(rows)
        nxt = start + F.lit(rows)
        later = [entry(chk + 1, nxt - F.lit(carry), nxt)]
        if lead > 0:
            later.append(F.when(chk > 0, entry(chk - 1, start,
                                              start + F.lit(lead))))
        base = base.withColumns({"_pts_chk": chk, "_pts_nxt": F.array(*later)})
    else:
        base = _bucket_rank(df.drop("_pts_rn0"), bucket_us, carry=carry
                            ).withColumnRenamed("_pts_bkt", "_pts_chk")
    none = F.lit(None).cast("long")
    entries = F.concat(F.array(entry(F.col("_pts_chk"), none, none)),
                       F.col("_pts_nxt"))
    return (
        base.select("*", F.posexplode(entries).alias("_pts_p", "_pts_e"))
        .filter((F.col("_pts_p") == 0)
                | ((rn >= e["_pts_lo"]) & (rn < e["_pts_hi"])))
        .withColumns({"_pts_chk": e["_pts_chk"],
                      "_pts_carry": F.col("_pts_p") > 0})
        .drop("_pts_nxt", "_pts_p", "_pts_e")
    )


def _run_chunked(
    df: DataFrame, specs: list[KernelSpec], chunk: int, carry: int,
    lead: int = 0,
) -> DataFrame:
    """Epoch-chunked kernel pass: ``assign_chunks`` -> one
    groupBy(symbol, chunk) Arrow pass -> drop the carries. The rank's
    (symbol, bucket) partitioning does not satisfy the groupBy, so the
    pass pays its own (symbol, chunk) exchange — which is what spreads
    a hot symbol's epochs over tasks. Output: df's columns (an incoming
    ``_pts_rn0`` kept, a computed one dropped), then the outputs."""
    from pyspark.sql import functions as F

    u = assign_chunks(df, carry, rows=chunk, lead=lead)
    out = u.groupBy("symbol", "_pts_chk").applyInPandas(
        _make_runner(specs), _out_schema(u, specs))
    temps = [c for c in ("_pts_rn0", "_pts_chk", "_pts_carry")
             if c not in df.columns]
    return out.filter(~F.col("_pts_carry")).drop(*temps)
