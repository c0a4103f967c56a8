"""Indicator abstraction: a declarative (Spark exprs, SQL twin) pair.

Each reference op (SURVEY.md §2) becomes a factory returning an
``Indicator``:

- ``stages``: ordered list of {temp_name: Column} — intermediate columns.
  Multiple stages exist only because window functions cannot nest inside a
  single expression; Catalyst still collapses every stage sharing the
  (symbol, ts) window spec into one WindowExec chain after a single
  exchange+sort, so stages are free at scale.
- ``final``: {output_name: Column} — the reference-named outputs
  (``RSI_14``, ``BBL_5_2.0``, ...).
- ``sql_stages``/``sql_final``: the same pipeline as ANSI SQL expression
  strings over the ``bars`` relation — compiled by ``oracle()`` into the
  DuckDB oracle query for the driver's correctness gate.
- ``kernel``: for EWM/KERNEL kinds — a pandas function run per-symbol via
  one Arrow-batched ``applyInPandas`` pass (plans/kernels.py). Kernel ops
  may still declare SQL twins (recursive CTE oracles) via ``sql_full``.

Design note (not a port): the reference evaluates each indicator eagerly in
pandas (``pandas_ta/core.py``); here an indicator is pure *plan* — nothing
executes until an action, and a strategy of N indicators is one plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame

ROUND_DECIMALS = 6  # float-determinism guard for the driver's value hash

# Engine-native round() differs between Spark (BigDecimal HALF_UP) and
# DuckDB (C-library) at representation boundaries, flipping the last digit
# on ~1/1000 rows — enough to break the driver's exact value-hash. Both
# sides therefore round with the SAME IEEE-double formula:
#     floor(x * 1e6 + 0.5) / 1e6
# evaluated identically (multiply, add, floor, divide) in both engines.
_SCALE = 10.0 ** ROUND_DECIMALS

# Identity band (adversarial primitive-parity test find): Spark's
# floor(DOUBLE) returns LONG, so for |x| >= ~9.2e18/scale the scaled
# value saturates Long.MAX (and floor(NaN)::long fabricates 0) while
# DuckDB's double-space floor sails through — round_col(1e15) read
# 9.22e12 in Spark and 1e15 in DuckDB, round_col(NaN) read 0.0 vs NaN.
# All three twins therefore pass |x| >= 9e18/scale (and NaN, whose
# comparison is false in all three engines) through UNROUNDED: above
# that bound the grid step is finer than one double ulp anyway, so
# identity is the only faithful semantic — and it is the SAME branch in
# all three, keeping the cross-engine hash exact in the band where the
# floor paths would disagree ulp-wise.
_ROUND_GUARD = 9e18


def round_col(c, decimals: int = ROUND_DECIMALS):
    """Deterministic cross-engine rounding of a Spark Column."""
    from pyspark.sql import functions as F

    s = 10.0 ** decimals
    return F.when(F.abs(c) < F.lit(_ROUND_GUARD / s),
                  F.floor(c * s + F.lit(0.5)) / s).otherwise(c)


def sql_round(e: str, decimals: int = ROUND_DECIMALS) -> str:
    """The DuckDB twin of round_col — same ops, same order.

    The guard interpolates ``e`` three times (abs test, floor branch,
    identity branch). Accepted trade-off: oracles must stay
    SELF-CONTAINED SQL strings (the driver's DuckDB session has only
    the table views — no macros), so there is no aliasing point for a
    single evaluation; DuckDB CSEs identical subtrees, and the full
    253-key gate (largest oracle ~190 kB post-change) stayed green at
    sf0.01/sf0.1/x10 with no measurable slowdown."""
    s = 10.0 ** decimals
    return (f"(CASE WHEN abs({e}) < {_ROUND_GUARD / s!r} "
            f"THEN floor(({e}) * {s!r} + 0.5) / {s!r} ELSE ({e}) END)")


def py_round(x: float, decimals: int = ROUND_DECIMALS) -> float:
    """The Python-scalar twin of round_col/sql_round (streaming state
    functions emit plain floats) — same ops, same order, same
    ROUND_DECIMALS source of truth."""
    import math

    s = 10.0 ** decimals
    if not (abs(x) < _ROUND_GUARD / s):  # NaN/inf/huge: identity branch
        return x
    return math.floor(x * s + 0.5) / s


# EWM seed parity (ADVICE r11): the SMA seed used to be three
# differently-associated double means (numpy pairwise mean in the batch
# kernels, Python left-to-right sum()/n in streaming, engine window avg
# in the DuckDB oracles); at a half-grid boundary they could round to
# different 1e-6 grid points, and the EWM recursion propagates that flip
# through every later row. The shared exact form below removes the
# association entirely: quantize each seed input to the output grid as
# an EXACT integer, sum in arbitrary precision, then divide with one
# fixed float-op order ((double(sum)/n)/1e6). All three paths (seed_mean
# here, the HUGEINT window sum in ewm_sql._emit_ewm_ctes, streaming's
# seed buffers) now produce bit-identical seeds whenever every input is
# finite and inside SEED_GUARD — the same band where py_round grid-rounds
# at all. Outside it (inf/NaN/huge: the fuzz gate's extreme profile) each
# path keeps its legacy mean, which py_round passes through unrounded.
SEED_GUARD = _ROUND_GUARD / _SCALE  # 9e12


def seed_mean(values) -> float:
    """Association-free SMA seed shared by batch kernels and streaming.

    SQL twin: ewm_sql.sql_seed_mean (same quantize-sum-divide op order).
    """
    import math

    vals = [float(v) for v in values]
    n = len(vals)
    if n == 0:
        return float("nan")
    if not all(math.isfinite(v) and abs(v) < SEED_GUARD for v in vals):
        return py_round(sum(vals) / n)  # legacy path (extreme profile)
    q = sum(int(math.floor(v * _SCALE + 0.5)) for v in vals)
    return py_round((float(q) / n) / _SCALE)


def np_round(a, decimals: int = ROUND_DECIMALS):
    """The numpy-array twin of round_col/sql_round/py_round — same ops,
    same order, same guard (NaN/inf/huge pass through unrounded)."""
    import numpy as np

    s = 10.0 ** decimals
    a = np.asarray(a, dtype="float64")
    with np.errstate(invalid="ignore"):
        mask = np.abs(a) < _ROUND_GUARD / s
    return np.where(mask, np.floor(a * s + 0.5) / s, a)


# Near-tie flag discipline: a boolean that thresholds an UNROUNDED
# recursion/aggregate output (EMA diff > 0, fast MA > slow MA) is
# decided by the last ulp whenever the true value sits at the
# threshold — and the two engines' last ulps differ (pandas ewm's
# weighted-average form vs the plain recursion; Spark's per-row frame
# re-aggregation vs DuckDB's segment tree). A locally-constant input
# makes the true value EXACTLY 0, so ulp noise alone picks the flag
# (fuzz gate: aobv's short-run flag flipped on a flat OBV stretch).
# Quantizing the comparand to the same 1e-6 grid the outputs are
# rounded to makes both engines compare identical doubles — and makes
# every flag consistent with the values the user actually sees.

def flag_quantize(c, decimals: int = ROUND_DECIMALS):
    """Quantize a Spark comparand for a boolean threshold (grid
    integers, not divided back — only the sign/ordering matters).

    NaN maps to NULL explicitly: Spark's floor(DOUBLE) returns LONG and
    turns NaN into 0 while DuckDB's stays NaN (> 0 true) — NULL makes
    the flag NULL on both engines, which downstream coalesce renders
    false. Saturation past 2^63 is sign-preserving on Spark and absent
    on DuckDB, so sign thresholds stay cross-engine exact at any
    magnitude."""
    from pyspark.sql import functions as F

    return F.when(F.isnan(c), F.lit(None)).otherwise(
        F.floor(c * F.lit(10.0 ** decimals) + F.lit(0.5)))


def sql_flag_quantize(e: str, decimals: int = ROUND_DECIMALS) -> str:
    """The DuckDB twin of flag_quantize — same ops, same order."""
    return (f"(CASE WHEN isnan({e}) THEN NULL"
            f" ELSE floor(({e}) * {10.0 ** decimals!r} + 0.5) END)")


def np_flag_quantize(a, decimals: int = ROUND_DECIMALS):
    """The numpy twin (Arrow kernels) — same ops, same order."""
    import numpy as np

    return np.floor(a * 10.0 ** decimals + 0.5)


# Exact rank-selected percentile: the value at sorted rank
# floor((n-1)*q)+1 — NOT an engine percentile builtin (Spark percentile
# and DuckDB quantile_cont interpolate with different conventions; the
# rank pick selects an actual member of the multiset, identically in
# both engines). The ONE definition shared by every percentile-emitting
# query and its SQL twin — change the convention here and both engines
# move together.

def rank_pick(q: float, value, rk, n):
    """Spark Column: exact rank-q pick given row_number ``rk`` and total
    ``n`` Columns (use inside an agg)."""
    from pyspark.sql import functions as F

    return F.max(F.when(rk == F.floor((n - 1) * F.lit(q)) + 1, value))


# Row-count-gated percentile strategy (VERDICT r10 ask #3): the exact
# forms above (rank-pick window / `percentile` aggregate) buffer or
# single-partition-sort the full column — fine below the threshold,
# a scale-killer above it. Past the threshold every percentile query
# swaps to `approx_percentile` (Greenwald-Khanna sketch: fixed-size
# partial buffers, mergeable map-side, returns an actual member of the
# multiset within rank error n/accuracy). The gate reads Catalyst's
# optimizedPlan size ESTIMATE — file-stat-based, zero extra jobs — so
# the small-input gate/bench path is byte-identical to before.
PERCENTILE_EXACT_MAX_BYTES = 8 << 30  # ~x1000 gate data; 100 TB >> this
APPROX_PERCENTILE_ACCURACY = 100_000  # rank error n/1e5


def use_approx_percentile(df) -> bool:
    """True when ``df``'s estimated input size exceeds the exact-
    percentile threshold (see PERCENTILE_EXACT_MAX_BYTES). Unestimable
    plans stay exact — the oracle-checked default."""
    try:
        sz = int(df._jdf.queryExecution().optimizedPlan()
                 .stats().sizeInBytes())
    except Exception:
        return False
    return sz > PERCENTILE_EXACT_MAX_BYTES


def sql_rank_pick(q: float, value: str, rk: str = "rk",
                  n: str = "n") -> str:
    """The DuckDB twin of rank_pick — same arithmetic, same order."""
    return (f"max(CASE WHEN {rk} = floor(({n} - 1) * {q}) + 1 "
            f"THEN {value} END)")


def qcol(name: str):
    """Column ref tolerant of dots in output names (ALMA_10_6.0_0.85)."""
    from pyspark.sql import functions as F

    return F.col(f"`{name}`")


@dataclass
class KernelSpec:
    """A per-symbol pandas kernel: fn(pdf sorted by ts) -> pdf with the
    output columns appended. Executed via groupBy('symbol').applyInPandas —
    all kernels of a strategy run in ONE Arrow pass per group.

    ``carry_rows``: finite history bound — the kernel's output at row t is
    exactly determined by rows [t - carry_rows, t] (FIR/rolling kernels).
    Lets plans/kernels.py split huge symbol groups into (symbol, epoch)
    chunks with a carried overlap (SURVEY §4.3.4) — bounded memory AND
    within-symbol parallelism. None = unbounded state (IIR recursions,
    state machines): whole-group execution, or streaming/ for unbounded."""

    fn: Callable  # (pd.DataFrame) -> pd.DataFrame (appends outputs)
    outputs: list[str]
    inputs: list[str]  # bar columns the kernel reads
    carry_rows: int | None = None
    # forward dependency bound: output at row t also reads rows
    # (t, t + lead_rows] (non-causal columns, e.g. ichimoku's chikou
    # lead). Chunked execution carries this many LEADING rows of epoch
    # e+1 back into epoch e (plans/kernels.py assign_chunks).
    lead_rows: int = 0
    # the kernel's FP rounding depends on each row's global position in
    # its symbol's ts order (the OLS family regresses against
    # row_number(); translation-invariant exactly, NOT in float64).
    # Every chunked path must hand such kernels the global rank column
    # (_pts_rn0) so chunked x equals whole-group x bit-for-bit.
    pos_dependent: bool = False


@dataclass
class Indicator:
    key: str  # registry/query key, e.g. "sma" (params in `params`)
    outputs: list[str]  # reference-convention output column names
    category: str
    stages: list[dict[str, Column]] = field(default_factory=list)
    final: dict[str, Column] = field(default_factory=dict)
    sql_stages: list[dict[str, str]] | None = None
    sql_final: dict[str, str] | None = None
    sql_full: str | None = None  # overrides stage-compiled SQL (recursive CTEs)
    kernel: KernelSpec | None = None

    def apply(self, df: DataFrame, keep_temps: bool = False, offset: int = 0,
              fillna=None, fill_method: str | None = None) -> DataFrame:
        """Append output columns to a bars DataFrame (the reference's
        ``append=True``; immutable here — returns a new DataFrame).

        ``offset`` shifts every output by k rows and ``fillna``/
        ``fill_method`` patch warmup NULLs — the reference's universal
        post-processing kwargs (pandas_ta/utils/_core.py#get_offset,
        every indicator's ``# Handle fills`` block)."""
        if self.kernel is not None:
            from pandas_ta_spark.plans.kernels import run_kernels

            df = run_kernels(df, [self.kernel])
        temps: list[str] = []
        for stage in self.stages:
            df = df.withColumns(stage)
            temps.extend(stage.keys())
        if self.final:
            df = df.withColumns(self.final)
        if temps and not keep_temps:
            df = df.drop(*temps)
        post = {}
        if offset:
            from pandas_ta_spark.functions.windows import shift

            post.update({c: shift(qcol(c), offset) for c in self.outputs})
        if post:
            df = df.withColumns(post)
            post = {}
        if fill_method == "ffill":
            from pyspark.sql import functions as F

            from pandas_ta_spark.functions.windows import w_all

            post.update({
                c: F.last(qcol(c), ignorenulls=True).over(w_all())
                for c in self.outputs
            })
        elif fillna is not None:
            from pyspark.sql import functions as F

            post.update({c: F.coalesce(qcol(c), F.lit(fillna)) for c in self.outputs})
        if post:
            df = df.withColumns(post)
        return df

    def oracle(self) -> str | None:
        """DuckDB oracle SQL over the shared `bars` CTE (rounded outputs),
        or None for non-SQL-expressible ops (driver does rows-only check)."""
        from pandas_ta_spark.sources.bars import with_bars_cte

        if self.sql_full is not None:
            # builders of recursive-CTE oracles emit the complete query
            # (including the bars CTE) themselves
            return self.sql_full
        if self.sql_final is None:
            return None
        rel = "bars"
        for stage in self.sql_stages or []:
            cols = ", ".join(f"({e}) AS {a}" for a, e in stage.items())
            rel = f"(SELECT *, {cols} FROM {rel})"
        outs = ", ".join(
            f'{sql_round(e)} AS "{a}"' for a, e in self.sql_final.items()
        )
        return with_bars_cte(f"SELECT symbol, ts, {outs} FROM {rel}")

    def query(self, df: DataFrame) -> DataFrame:
        """The driver-facing correctness query: symbol, ts + rounded outputs."""
        out = self.apply(df)
        return out.select(
            "symbol",
            "ts",
            *[round_col(qcol(c)).alias(c) for c in self.outputs],
        )
