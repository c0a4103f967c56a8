"""Strategy planner: many indicators -> ONE plan.

The reference's ``df.ta.strategy(...)`` (``pandas_ta/core.py#strategy``)
loops over indicators, optionally fanning out with multiprocessing and
pickling the whole DataFrame per task. Here a strategy is declarative
composition (SURVEY.md §3.3):

- every KERNEL/EWM indicator's pandas kernel is batched into a SINGLE
  ``groupBy("symbol").applyInPandas`` pass (one shuffle + one Arrow
  round-trip regardless of kernel count);
- every window-expressible indicator contributes Column expressions over
  the shared ``Window.partitionBy("symbol").orderBy("ts")`` spec, which
  Catalyst collapses into one WindowExec chain after one exchange + one
  sort (SURVEY.md §4.2).

Net: a 50-indicator strategy costs the same shuffles as one indicator.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import re

from pandas_ta_spark.functions.windows import SYMBOL, TS
from pandas_ta_spark.operators.base import Indicator
from pandas_ta_spark.plans.kernels import assign_chunks, run_kernels

# Per-symbol row count above which apply_strategy auto-routes the
# chunk-safe indicators through the row-chunked path (VERDICT r12 ask
# #4: the 14x hot-symbol skew blowup was opt-in-mitigated only). Above
# ~1M rows one symbol's WindowExec partition is a single external-sorted
# task — minutes of serialized work per window chain at 100 TB — while
# row-chunking turns it into (rows / chunk) parallel tasks with a
# lookback carry, bit-identical outputs.
AUTO_CHUNK_ROWS = 1_000_000

# routing decisions memoized per DataFrame OBJECT (bench reps and
# resident engines re-apply strategies to the same cached frame; the
# groupBy count that sizes the hottest symbol then runs once, not per
# call). Keyed weakly: dropping the frame drops the entry.
_HOT_ROWS_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


# below this optimizer-estimated input size no symbol can hold
# AUTO_CHUNK_ROWS rows (1M OHLCV rows are >= ~40 MB in any layout), so
# the router skips even the count JOB — zero cost for test-sized and
# headline-sized frames. The estimate comes from plan statistics
# (parquet footers / cache metadata), not a job.
_AUTO_CHUNK_MIN_BYTES = 32 << 20


def _plan_maybe_big(df: DataFrame) -> bool:
    try:
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(str(sz)) >= _AUTO_CHUNK_MIN_BYTES
    except Exception:  # stats unavailable (connect, exotic plans):
        # route to the plain path rather than paying an eager count JOB
        # at plan-build time for every call (ADVICE r13): a caller on a
        # stats-less frontend who actually has a hot symbol can still
        # opt in via apply_strategy_chunked_rows explicitly.
        return False


def _max_rows_per_symbol(df: DataFrame) -> int:
    try:
        return _HOT_ROWS_CACHE[df]
    except (KeyError, TypeError):
        pass
    if not _plan_maybe_big(df):
        hot = 0  # provably below threshold without running a job
    else:
        row = df.groupBy(SYMBOL).count().agg(F.max("count")).first()
        hot = int(row[0] or 0)
    try:
        _HOT_ROWS_CACHE[df] = hot
    except TypeError:  # unhashable/unweakrefable frame: just don't memo
        pass
    return hot


def _auto_chunk_size(df: DataFrame, hot: int, lb: int) -> int:
    """Row-chunk size for the auto route, sized from cluster parallelism.

    The r13 heuristic ``max(65_536, 32*lb, hot//1024)`` floored at 64k
    rows: a 1.6M-row hot symbol became ~24 chunks — fewer tasks than
    cores, so the routed plan ran 2.70x the uniform bar where the
    opt-in time-chunked path (~1000 chunks) ran 1.63x (VERDICT r13 ask
    #4). Target ~8 tasks per core for the hot symbol so stragglers
    amortize, floored to keep the lookback-carry overhead (lb extra
    rows per chunk) under ~1%, capped at 1M rows so one chunk's
    WindowExec buffer stays executor-sized at any corpus scale."""
    try:
        par = max(1, df.sparkSession.sparkContext.defaultParallelism)
    except Exception:  # connect / no context: a sane mid value
        par = 16
    target = max(1, hot // (8 * par))
    return max(4096, 32 * lb, min(target, 1_048_576))


def chunk_depth(ind: Indicator) -> int | None:
    """Rows of history ``ind`` reads, or None when chunking cannot be
    exact: a kernel without finite ``carry_rows`` or with ``lead_rows``,
    or expressions whose ``expression_lookback`` is unbounded. The one
    chunk-safety rule behind ``split_chunkable`` and both chunked
    strategy paths."""
    k = ind.kernel
    if k is not None and (k.carry_rows is None or k.lead_rows):
        return None
    depth = expression_lookback(ind)
    if depth is None:
        return None
    return max(depth, k.carry_rows if k is not None else 0)


def split_chunkable(inds: list[Indicator]):
    """Partition a strategy into (lookback, chunk-safe, not-chunk-safe)
    by ``chunk_depth``; ``lookback`` is the max depth over the safe
    set."""
    lb, safe, unsafe = 0, [], []
    for ind in inds:
        d = chunk_depth(ind)
        (unsafe if d is None else safe).append(ind)
        lb = max(lb, d or 0)
    return lb, safe, unsafe


def apply_strategy(df: DataFrame, inds: list[Indicator], keep_temps: bool = False,
                   auto_chunk_rows: int | None = AUTO_CHUNK_ROWS,
                   kernel_chunk_rows: int | None = None) -> DataFrame:
    """Append every indicator's output columns in one composite plan.

    Stage maps are merged ACROSS indicators layer by layer (an
    indicator's stage k only references its own stages < k or bar
    columns), so 24 indicators with 2 stages each become 3 projection
    layers, not 48 — fewer Window/Project nodes, one codegen span per
    layer, same single exchange+sort.

    Skew auto-routing (``auto_chunk_rows``, default 1M; pass ``None``
    to pin the single-pass plan): when the hottest symbol holds more
    rows than the threshold (one memoized count-by-symbol job), the
    chunk-safe indicators run through ``apply_strategy_chunked_rows``
    — bit-identical outputs, hot partition split into parallel
    (symbol, chunk) tasks — on top of the rest (EWM/cumulative:
    genuinely sequential per symbol), which runs first via the plain
    path. Removes the measured 14x hot-symbol trap without the caller
    asking."""
    if (auto_chunk_rows and not keep_temps and len(inds) > 0
            and not df.isStreaming):
        # size gate FIRST: split_chunkable regex-introspects every
        # indicator's SQL twin (~153 long strings for the all-ind
        # strategy) — running it before the cheap stats/memoized-count
        # gate added ~10% to every all-ind plan build (r13 bench find).
        # Streaming frames skip routing entirely (a count job can't run
        # on an unstarted stream); NOTE the router may run one
        # groupBy(symbol).count() job at plan-BUILD time on large batch
        # frames — pass auto_chunk_rows=None to keep plan build lazy.
        hot = _max_rows_per_symbol(df)
        from pandas_ta_spark.plans.kernels import CHUNK_ROWS as _KCHUNK

        if 0 < hot < _KCHUNK and kernel_chunk_rows is None:
            # the router's (memoized) count proves every symbol group is
            # epoch-sized: pin the kernel pass to whole-group execution,
            # skipping _run_chunked's groupBy(symbol, epoch) layer (one
            # Exchange + one row_number window) that the stats-only gate
            # would conservatively keep
            kernel_chunk_rows = 0
        if hot > auto_chunk_rows:
            lb, safe, unsafe = split_chunkable(inds)
            if safe:
                chunk_rows = _auto_chunk_size(df, hot, lb)
                if not unsafe:
                    return apply_strategy_chunked_rows(df, safe, lb,
                                                       chunk_rows)
                # one stacked plan: the sequential half runs first on
                # the plain path with the chunk rank beside it. The rank
                # shares the (symbol, ts) window sort that half pays
                # anyway (no extra serial sort of a hot symbol, no
                # exchange on a symbol-partitioned input) and the
                # chunked half reuses it: one exchange (salted symbol),
                # no join, so NULL-key rows survive as on the plain path.
                w = Window.partitionBy(SYMBOL).orderBy(TS)
                ranked = df.withColumn(
                    "_pts_rn0", F.row_number().over(w) - F.lit(1))
                seq = apply_strategy(ranked, unsafe, auto_chunk_rows=None,
                                     kernel_chunk_rows=kernel_chunk_rows)
                out = apply_strategy_chunked_rows(seq, safe, lb,
                                                  chunk_rows)
                # restore plain-path column order: the plain path
                # appends expression finals in indicator order and THEN
                # the kernel outputs (run_kernels goes last)
                want = list(df.columns)
                for i in inds:
                    want += [c for c in i.final if c not in want]
                for i in inds:
                    if i.kernel is not None:
                        want += [c for c in i.kernel.outputs
                                 if c not in want]
                ordered, seen_c = [], set()
                for c in want + out.columns:
                    if c in out.columns and c not in seen_c:
                        seen_c.add(c)
                        ordered.append(c)
                # backtick-quote: bare-string select parses dotted
                # output names (CCI_14_0.015, BBL_5_2.0) as struct
                # field access
                return out.select(*[F.col(f"`{c}`") for c in ordered])
    temps: list[str] = []
    seen: dict[str, str] = {}  # temp name -> expression repr
    max_stages = max((len(i.stages) for i in inds), default=0)
    for k in range(max_stages):
        layer: dict = {}
        for ind in inds:
            if len(ind.stages) > k:
                for tname, expr in ind.stages[k].items():
                    # same kind twice with different params must not
                    # silently overwrite a shared temp (the layer merge
                    # would compute BOTH outputs from the second
                    # expression); identical redefinitions dedupe
                    r = str(expr)
                    if seen.setdefault(tname, r) != r:
                        raise ValueError(
                            f"strategy temp column '{tname}' redefined "
                            f"with a different expression by {ind.key} — "
                            "parameterize the temp name (see hma's "
                            "_hma_{length}_raw convention)")
                    layer[tname] = expr
        if layer:
            df = df.withColumns(layer)
            temps.extend(c for c in layer if c not in temps)
    finals: dict = {}
    for ind in inds:
        finals.update(ind.final)
    if finals:
        df = df.withColumns(finals)
    if temps and not keep_temps:
        df = df.drop(*temps)
    # kernels LAST: groupBy(symbol).applyInPandas's ClusteredDistribution
    # is satisfied by the window stage's hash(symbol) partitioning, saving
    # one full shuffle (kernel-first would re-exchange for the windows —
    # measured 3 vs 2 Exchange nodes). No indicator's window stages read
    # kernel outputs, so the reorder is safe.
    kernels = [i.kernel for i in inds if i.kernel is not None]
    if kernels:
        df = run_kernels(df, kernels, kernel_chunk_rows)
    return df


def _strip_lag_over(s: str) -> str:
    """Remove every ``lag(<args>) OVER (<clause>)`` segment from ``s``,
    matching the argument parens with a balanced scan (regex can't bound
    the nesting depth of generated arithmetic like eom's
    ``lag(((high + low) / 2), 1)``). Malformed/unclosed parens leave the
    segment in place — conservative: the survivor's frameless OVER
    clause then flags the indicator not-chunkable (refusal, never
    silent divergence)."""
    out, i = [], 0
    while True:
        m = re.search(r"\blag\s*\(", s[i:])
        if not m:
            out.append(s[i:])
            return "".join(out)
        start = i + m.start()
        j = i + m.end()  # first char after the opening paren
        depth = 1
        while j < len(s) and depth:
            depth += {"(": 1, ")": -1}.get(s[j], 0)
            j += 1
        tail = re.match(r"\s*OVER\s*\([^()]*\)", s[j:]) if not depth else None
        if tail is None:  # unbalanced or no OVER: keep the text as-is
            out.append(s[i:j])
            i = j
        else:
            out.append(s[i:start])
            i = j + tail.end()


def expression_lookback(ind: Indicator):
    """Max rows of history an expression-path indicator's windows read,
    introspected from its SQL twin (ADVICE r6: the chunked contract must
    be checkable for window-expression indicators, not just kernels).

    The SQL stage/final strings are maintained in lockstep with the
    Spark Column expressions (the repo's oracle contract), so the depths
    parsed here — `N PRECEDING` frames and `lag(x, N)` offsets — are the
    Spark plan's depths. Returns:

    - an int: bounded — exact under chunking iff <= lookback;
    - ``None``: NOT chunk-safe — the expressions are position-dependent
      or unbounded (`UNBOUNDED PRECEDING`, `row_number`/`rank`, or any
      `lead`): their values change when the partition is split, so
      chunked output would silently diverge from the unchunked plan.

    Kernel-only indicators return 0 (their history lives in the kernel's
    ``carry_rows``, checked separately): when the indicator has NO Spark
    expression stages, its SQL strings exist purely as the DuckDB oracle
    twin and never execute on Spark — an oracle that happens to use a
    positional trick (aroon's reversed ``list_position`` argmax renders
    as ``row_number``) must not veto chunking of a kernel whose finite
    ``carry_rows`` already passed the kernel check (found while building
    the r11 skew bench: aroon is a carry_rows=14 kernel yet was
    rejected on its oracle's shape).
    """
    if ind.kernel is not None and not ind.stages and not ind.final:
        return 0  # kernel-only execution: SQL twin is oracle-only
    parts: list[str] = []
    for st in ind.sql_stages or []:
        parts.extend(st.values())
    if ind.sql_final:
        parts.extend(ind.sql_final.values())
    if not parts:
        return None  # expression stages with no SQL twin: unknowable
    s = " ".join(parts)
    if ("UNBOUNDED PRECEDING" in s or re.search(r"\brow_number\s*\(", s)
            or re.search(r"\brank\s*\(", s) or re.search(r"\blead\s*\(", s)
            # position-dependent regardless of frame (ADVICE r7: \brank\(
            # can't match after an underscore, so these need own tokens)
            or re.search(r"\b(percent_rank|dense_rank|ntile|cume_dist)\s*\(", s)):
        return None
    # Implicit-frame running aggregates (ADVICE r7): `sum(x) OVER
    # (PARTITION BY s ORDER BY ts)` defaults to RANGE UNBOUNDED
    # PRECEDING without the literal text the check above looks for.
    # Strip the frameless-by-design bounded navigation calls
    # (`lag(...) OVER (...)` — depth counted below) with a balanced-
    # paren scan (lag args nest arbitrarily deep in generated SQL —
    # eom's is two levels), then treat ANY remaining ORDER BY
    # OVER-clause lacking an explicit ROWS frame as unbounded.
    stripped = _strip_lag_over(s)
    for m in re.finditer(r"OVER\s*\(([^()]*)\)", stripped):
        clause = m.group(1).upper()
        if "ORDER BY" in clause and "ROWS" not in clause:
            return None
    # Depths COMPOSE across stages: stage k's windows read stage k-1's
    # temps, so a row of stage-k output needs (stage-k depth) rows of
    # stage k-1, each of which needs (stage k-1 depth) rows of input —
    # hma(16) = wroll(close,16) then wroll(tmp,4) truly needs 15+3 rows,
    # not max(15,3). Summing per-stage maxima is the exact bound for a
    # linear stage chain and a safe over-estimate when a later stage
    # reads bar columns directly.
    def _depth_of(exprs) -> int:
        t = " ".join(exprs)
        d = 0
        for m in re.finditer(r"(\d+)\s+PRECEDING", t):
            d = max(d, int(m.group(1)))
        # lag offsets: sql_shift/sql_wroll always emit `lag(<expr>, N)
        # OVER`; match the offset right before `) OVER` so nested parens
        # in <expr> don't confuse the scan. A bare `lag(x) OVER`
        # (offset 1) never occurs in generated SQL but costs nothing.
        if re.search(r"\blag\s*\(", t):
            d = max(d, 1)
        for m in re.finditer(r",\s*(\d+)\s*\)\s*OVER", t):
            d = max(d, int(m.group(1)))
        return d

    depth = sum(_depth_of(st.values()) for st in ind.sql_stages or [])
    if ind.sql_final:
        depth += _depth_of(ind.sql_final.values())
    return depth


def apply_strategy_chunked(
    df: DataFrame,
    inds: list[Indicator],
    lookback: int,
    chunk: str = "30 days",
) -> DataFrame:
    """``apply_strategy`` over time chunks (``chunk``: "N days" or "N
    hours") for per-symbol series too long for one window partition.

    WindowExec buffers an entire (symbol) partition; a multi-year tick
    series for one instrument can exceed executor memory. This is
    ``assign_chunks`` over time buckets — every chunk gets the
    ``lookback`` rows before its first row as carry, whatever the
    chunk and gap sizes — then ``_salt_apply_unsalt``. Every indicator
    must be bounded-lookback (``chunk_depth <= lookback``; anything
    else raises, see ``_reject_unchunkable``)."""
    _reject_unchunkable(inds, lookback)
    # parse "N days"/"N hours" without relying on engine interval math
    qty, unit = chunk.split()
    per = {"day": 86_400_000_000, "days": 86_400_000_000,
           "hour": 3_600_000_000, "hours": 3_600_000_000}[unit]
    return _salt_apply_unsalt(
        assign_chunks(df, lookback, bucket_us=int(qty) * per), inds)


def _salt_apply_unsalt(u: DataFrame, inds: list[Indicator]) -> DataFrame:
    """Shared tail of the chunked paths, over ``assign_chunks`` output:
    salt symbol with the chunk id, run the normal one-plan strategy over
    the salted key (auto-routing off — the groups are chunk-bounded by
    construction), drop the carries and the chunk columns. Every chunk
    holds its carry of the rows just before it, so with each
    indicator's ``chunk_depth`` within that carry the output is
    bit-identical to ``apply_strategy``; exactness assumes (symbol, ts)
    uniquely orders rows, like every per-symbol window here."""
    salted = u.withColumn("_sym", F.col(SYMBOL)).withColumn(
        SYMBOL, F.concat_ws("#", SYMBOL, F.col("_pts_chk").cast("string"))
    )
    # kernel_chunk_rows=0: the salted (symbol, chunk) groups are
    # chunk-bounded by construction, so the kernel pass must not stack
    # its own epoch-chunk layer (an extra Exchange) on top
    out = apply_strategy(salted, inds, auto_chunk_rows=None,
                         kernel_chunk_rows=0)
    out = (
        out.filter(~F.col("_pts_carry"))
        .withColumn(SYMBOL, F.col("_sym"))
        .drop("_sym", "_pts_chk", "_pts_carry")
    )
    # the rank (kept for position-dependent kernels) is plumbing, not
    # output
    return out.drop("_pts_rn0")


def _reject_unchunkable(inds: list[Indicator], lookback: int) -> None:
    """Raise unless every indicator's ``chunk_depth`` is at most
    ``lookback`` (ADVICE r6: an sma(50) under lookback=30, or a CUM /
    row_number / lead expression, would otherwise silently diverge from
    the unchunked plan). The message names the failing half of the
    contract: kernel carry, unbounded expression, or too-deep
    expression."""
    bad = [i for i in inds
           if (d := chunk_depth(i)) is None or d > lookback]
    if not bad:
        return
    expr = [(i, expression_lookback(i)) for i in bad]
    unbounded = [i for i, d in expr if d is None]
    too_deep = [(i, d) for i, d in expr if d is not None and d > lookback]
    # expressions within lookback: the kernel's carry/lead is the cause
    kernels = [i for i, d in expr if d is not None and d <= lookback]
    if kernels:
        raise ValueError(
            "apply_strategy_chunked requires bounded-lookback indicators "
            "(window exprs or kernels with carry_rows <= lookback and no "
            "lead_rows); EWM/unbounded kernels have their own chunking "
            f"(plans/kernels.py): {[i.outputs for i in kernels]}"
        )
    if unbounded:
        raise ValueError(
            "apply_strategy_chunked cannot chunk position-dependent or "
            "unbounded expression indicators (cumulative windows, "
            "row_number/rank, lead): their values change when the "
            "partition is split, so chunked output would silently "
            "diverge from the unchunked plan: "
            f"{[i.outputs for i in unbounded]}"
        )
    raise ValueError(
        "expression indicator(s) read more history than "
        f"lookback={lookback} — retained rows near chunk starts "
        "would see truncated frames and silently diverge from the "
        "unchunked plan: "
        f"{[(i.outputs, d) for i, d in too_deep]}. "
        "Raise lookback to at least the max depth."
    )


def apply_strategy_chunked_rows(
    df: DataFrame,
    inds: list[Indicator],
    lookback: int,
    chunk_rows: int = 262_144,
) -> DataFrame:
    """``apply_strategy_chunked`` with ROW-count chunks instead of time
    chunks — the auto-routing backend (see ``apply_strategy``):
    ``assign_chunks`` over ``chunk_rows``-row chunks, then
    ``_salt_apply_unsalt``. ``_pts_rn0`` is reused when ``df`` carries
    it and dropped from the output either way."""
    if chunk_rows < max(lookback, 1):
        raise ValueError(
            f"chunk_rows={chunk_rows} < lookback={lookback}: non-last "
            "chunks could not carry enough history")
    _reject_unchunkable(inds, lookback)
    return _salt_apply_unsalt(
        assign_chunks(df, lookback, rows=chunk_rows), inds)
