"""The benchmark's workloads: what each op calls and how it is checked.

A workload prepares its inputs (``prepare``), computes the reference its
ops are checked against once per run (``reference``), warms the session
(``warm_up``), and hands out cycles of ops (``cycle``). An op is one
public-API call whose result the harness evaluates through the ``noop``
sink. The harness attaches the workload's digest aggregates to that
evaluation as Spark observed metrics, so every op's output is checked
without evaluating it twice; the digest is compared with the reference
after the op's clock stops.

In a traced run each workload also calls single layers directly
(``probes``) and reports counts that need the modules' own helpers
(``counts``); the untraced run never does either.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np

import inputs

# digests are sums of per-row values modulo this prime, so they are
# order-insensitive and fit a Spark long for any input this size
P = 2**31 - 1


@dataclass
class Op:
    name: str
    span: str  # span around the public call, "<layer>.<call>"
    build: Callable  # () -> DataFrame; the timed public-API call
    rows: int  # input rows the op reads
    cold: bool  # first op after a cache release or on a fresh frame


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class TaHotSymbol:
    """The default 24-indicator ``apply_strategy`` over a tick panel
    with one seed-chosen hot symbol.

    ``apply_strategy`` routes a strategy through the row-chunked path
    when its hottest symbol holds more rows than ``auto_chunk_rows``.
    The panel is sized so its cached relation passes the router's 32 MB
    size gate, and the threshold is scaled down with it (the default 1M
    rows would need a panel too slow for a run). Each cycle starts on a
    fresh frame, so its first op pays the router's count job and its
    second hits the memoized route."""

    name = "ta_hot_symbol"
    route_rows = 100_000
    min_cycles = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.ticks = None
        from bench import strategy_indicators

        self.inds = strategy_indicators()

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from pandas_ta_spark.sources.bars import load_table

        c = self.ctx
        n = c.sizes.hot_rows
        if self.ticks is not None:
            self.ticks.unpersist(blocking=True)
        inputs.write_events(c.data_dir, n, c.seed)
        with c.tracer.span("sources.load"):
            ev = load_table(c.spark, c.data_dir, "events")
            opn = F.col("value") * (1 + F.col("d_open"))
            ticks = ev.select(
                F.concat("event_type", F.lit("_"),
                         F.pmod("user_id", F.lit(inputs.SALTS))).alias("symbol"),
                F.col("ts").cast("timestamp").alias("ts"),
                opn.alias("open"),
                (F.greatest(opn, "value") * (1 + F.col("d_high"))).alias("high"),
                (F.least(opn, "value") * (1 - F.col("d_low"))).alias("low"),
                F.col("value").alias("close"),
                F.col("qty").alias("volume"),
                "event_id", "user_id", "props", "pad",
            )
            self.ticks = ticks.repartition(c.shuffle_parts, "symbol").cache()
            self.rows = self.ticks.count()
        if self.rows != n:
            raise RuntimeError(f"tick panel has {self.rows} rows, not {n}")

    def reference(self) -> None:
        """The plain single-pass plan (routing off) over the same input."""
        from pyspark.sql import functions as F

        from pandas_ta_spark.plans.strategy import apply_strategy

        ref = apply_strategy(self.ticks, self.inds, auto_chunk_rows=None)
        self.columns = ref.columns
        cols = [F.col(f"`{c}`") for c in self.columns]
        # the op's digest: its row count and the sum of a hash of each
        # whole row, keyed by (symbol, ts) so a value moved to another
        # row shows
        self.exprs = [F.count(F.lit(1)).alias("n"), F.sum(F.pmod(
            F.xxhash64("symbol", "ts", *cols), F.lit(P))).alias("r")]
        # per-column digests, evaluated only to name what differs, on the
        # op's output and the reference's
        key = F.xxhash64("symbol", "ts")
        self.col_exprs = [F.sum(F.pmod(key, F.lit(P))).alias("k")] + [
            F.sum(F.pmod(F.xxhash64(col).bitwiseXOR(key), F.lit(P)))
            .alias(f"c{j}") for j, col in enumerate(cols)]
        self.ref_df = ref
        got = ref.agg(*self.exprs, self.col_exprs[0]).first().asDict()
        keys = self.ticks.agg(self.exprs[0], self.col_exprs[0]).first()
        if tuple(keys) != (got["n"], got.pop("k")):
            raise RuntimeError("the plain plan changed the (symbol, ts) set")
        self.ref = got
        self.max_group_rows = (self.ticks.groupBy("symbol").count()
                               .agg(F.max("count")).first()[0])

    def warm_up(self, trace: bool) -> None:
        """The reference's plain plan has warmed the session. A traced
        run compares traced and untraced cycles for the tracing
        overhead, so it also runs one untimed routed call: neither kind
        may hold the session's first."""
        if trace:
            force(self.cycle()[0].build())

    def cycle(self) -> list[Op]:
        from pandas_ta_spark.plans.strategy import apply_strategy

        frame = self.ticks.select("*")  # new object: the route is re-decided

        def call():
            return apply_strategy(frame, self.inds,
                                  auto_chunk_rows=self.route_rows)

        return [Op("apply_strategy", "strategy.apply", call, self.rows, i == 0)
                for i in range(2)]

    def digest_exprs(self, op: Op):
        return self.exprs

    def check(self, op: Op, df, got: dict) -> str | None:
        if sorted(df.columns) != sorted(self.columns):
            return f"columns differ: {sorted(set(df.columns) ^ set(self.columns))}"
        if got == self.ref:
            return None
        cols = df.agg(*self.col_exprs).first().asDict()
        ref = self.ref_df.agg(*self.col_exprs).first().asDict()
        bad = [self.columns[int(k[1:])] if k.startswith("c") else "(symbol, ts)"
               for k in ref if cols[k] != ref[k]]
        return f"{got['n']} rows, reference {self.ref['n']}; differs on {bad}"

    def probes(self) -> dict[str, float]:
        """Each layer of the op, called on its own and timed."""
        import time

        from pandas_ta_spark.plans.kernels import global_rn0, run_kernels
        from pandas_ta_spark.plans.strategy import (
            _auto_chunk_size, apply_strategy, apply_strategy_chunked_rows,
            split_chunkable)

        c = self.ctx
        frame = self.ticks.select("*")
        exprs_only = [i for i in self.inds if i.kernel is None]
        kernels = [i.kernel for i in self.inds if i.kernel is not None]
        lb, safe, _ = split_chunkable(self.inds)
        chunk = _auto_chunk_size(frame, self.max_group_rows, lb)
        calls = {
            "strategy.window": lambda: apply_strategy(
                frame, exprs_only, auto_chunk_rows=None),
            "kernels.pass": lambda: run_kernels(frame, kernels),
            "kernels.rank": lambda: global_rn0(frame),
            "strategy.chunked_rows": lambda: apply_strategy_chunked_rows(
                frame, safe, lb, chunk),
        }
        out = {}
        for name, fn in calls.items():
            t0 = time.perf_counter()
            with c.tracer.span(name):
                df = fn()
                with c.tracer.span("spark.exec"):
                    force(df)
            out[name + "_s"] = time.perf_counter() - t0
        return out

    def counts(self) -> dict[str, float]:
        return {"kernels.max_group_rows": float(self.max_group_rows)}


def _corpus_digest_spark(is_float: dict[str, bool]):
    """Spark aggregates of the order-insensitive row digest over the
    named columns (floats are compared at 1e-6, like the oracle gate)."""
    from pyspark.sql import functions as F

    h = F.lit(0).cast("long")
    for j, c in enumerate(sorted(is_float)):
        col = F.col(c)
        if is_float[c]:
            col = F.floor(col * 1e6 + F.lit(0.5))
        v = F.coalesce(F.pmod(col.cast("long"), F.lit(P)), F.lit(P - 1))
        h = F.pmod(h + F.pmod(v * F.lit(j * 7919 + 104729), F.lit(P)),
                   F.lit(P))
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("s1"),
            F.sum(F.pmod(h * h, F.lit(P))).alias("s2")]


def _corpus_digest_pandas(pdf) -> dict:
    """The same digest over a pandas frame (the DuckDB oracle's rows)."""
    h = np.zeros(len(pdf), dtype=np.int64)
    for j, c in enumerate(sorted(pdf.columns)):
        x = pdf[c]
        if x.dtype.kind == "f":
            x = np.floor(x.to_numpy() * 1e6 + 0.5)
            v = np.where(np.isnan(x), P - 1,
                         np.mod(np.nan_to_num(x).astype(np.int64), P))
        else:
            v = np.mod(x.to_numpy().astype(np.int64), P)
        h = np.mod(h + np.mod(v * (j * 7919 + 104729), P), P)
    return {"n": len(pdf), "s1": int(h.sum()),
            "s2": int(np.mod(h * h, P).sum())}


class CorpusDedup:
    """Cycles over one corpus. Each cycle releases the session caches,
    then calls the IVF top-k query (which rebuilds the vector cache and
    the IVF index), MinHash-LSH dedup and connected components over the
    cached pair table.

    The banded cosine near-dup join is left out of the timed cycle: each
    call spends ~10 s failing to compile its band expressions before it
    falls back from whole-stage codegen, so a run would hold one cycle
    and too few samples to be steady. The traced run still reports its
    band occupancy and pair count."""

    name = "corpus_dedup"
    min_cycles = 3
    # query -> (layer, table it reads), in cycle order
    queries = {"topk_cosine_ivf": ("similarity", "embeddings"),
               "dedup_minhash_lsh": ("dedup", "documents"),
               "dedup_cc_clusters": ("dedup", "documents")}

    def __init__(self, ctx):
        self.ctx = ctx
        self.released = []

    def prepare(self) -> None:
        from pandas_ta_spark.sources.bars import load_table

        c = self.ctx
        inputs.write_corpus(c.data_dir, c.sizes.docs, c.sizes.vecs, c.seed)
        with c.tracer.span("sources.load"):
            self.rows = {t: load_table(c.spark, c.data_dir, t).count()
                         for t in ("documents", "embeddings")}

    def reference(self) -> None:
        """Each query's DuckDB oracle over the same parquet files."""
        import duckdb

        from pandas_ta_spark.ext import SUITE

        self.oracle, self.ref, self.exprs = {}, {}, {}
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.ctx.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in self.queries:
                odf = self.oracle[q] = con.execute(SUITE[q].oracle).df()
                self.ref[q] = _corpus_digest_pandas(odf)
                self.exprs[q] = _corpus_digest_spark(
                    {c: odf[c].dtype.kind == "f" for c in odf.columns})
        finally:
            con.close()

    def warm_up(self, trace: bool) -> None:
        """One untimed cycle, in either mode. A session's first cycle
        pays JIT compilation and Python worker start-up, about doubling
        it, so the measured cycles start warm."""
        for op in self.cycle():
            force(op.build())

    def cycle(self) -> list[Op]:
        from pandas_ta_spark.caches import release_session_caches
        from pandas_ta_spark.ext import SUITE

        c = self.ctx
        with c.tracer.span("caches.release"):
            self.released.append(release_session_caches(c.spark))
        return [Op(q, f"{layer}.{q}",
                   (lambda q=q: SUITE[q].query(c.spark, c.data_dir)),
                   self.rows[table], i == 0)
                for i, (q, (layer, table)) in enumerate(self.queries.items())]

    def digest_exprs(self, op: Op):
        return self.exprs[op.name]

    def check(self, op: Op, df, got: dict) -> str | None:
        if got == self.ref[op.name]:
            return None
        from tools.check import compare

        return (f"{op.name} differs from its oracle: "
                f"{compare(df.toPandas(), self.oracle[op.name]) or 'digest'}")

    def probes(self) -> dict[str, float]:
        """Each session-cache build, timed on its own after a release."""
        import time

        from pandas_ta_spark.caches import release_session_caches
        from pandas_ta_spark.ext.dedup import _pairs_cached
        from pandas_ta_spark.ext.similarity import (
            _ivf_lists, _spark_vectors_cached)

        c = self.ctx
        with c.tracer.span("caches.release"):
            release_session_caches(c.spark)
        out = {}
        for name, fn in (("similarity.vecs_build", _spark_vectors_cached),
                         ("similarity.ivf_build", _ivf_lists),
                         ("dedup.pairs_build", _pairs_cached)):
            t0 = time.perf_counter()
            with c.tracer.span(name):
                fn(c.spark, c.data_dir)
            out[name + "_s"] = time.perf_counter() - t0
        return out

    def counts(self) -> dict[str, float]:
        """LSH fan-out, from the modules' own signature and band helpers."""
        from pyspark.sql import functions as F

        from pandas_ta_spark.ext import SUITE
        from pandas_ta_spark.ext.dedup import _banded, _minhash_sig
        from pandas_ta_spark.ext.similarity import (
            _nd_bands_expr, _nd_bits, _spark_vectors_cached)
        from pandas_ta_spark.sources.bars import load_table

        c = self.ctx
        docs = load_table(c.spark, c.data_dir, "documents").select(
            "doc_id", "text")
        banded = _banded(_minhash_sig(docs))
        a, b = banded.alias("a"), banded.alias("b")
        cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bkey") == F.col("b.bkey"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select("a.doc_id", "b.doc_id").distinct().count())
        verified = self.ref["dedup_minhash_lsh"]["n"]
        v = _spark_vectors_cached(c.spark, c.data_dir)
        bands = v.select(F.posexplode(_nd_bands_expr("e", _nd_bits(v.count())))
                         .alias("band", "bits"))
        occ = bands.groupBy("band", "bits").count().agg(
            F.max("count"), F.sum(F.col("count") * F.col("count"))).first()
        return {
            "dedup.candidate_pairs": float(cand),
            "dedup.verified_pairs": float(verified),
            "dedup.verify_ratio": verified / cand if cand else 0.0,
            "similarity.neardup_bucket_max": float(occ[0]),
            "similarity.neardup_bucket_sq_sum": float(occ[1]),
            "similarity.neardup_pairs": float(SUITE["neardup_cosine_lsh"]
                                              .query(c.spark, c.data_dir)
                                              .count()),
            "caches.entries_released": float(np.median(self.released[1:]
                                                       or self.released)),
        }


WORKLOADS = {w.name: w for w in (TaHotSymbol, CorpusDedup)}
