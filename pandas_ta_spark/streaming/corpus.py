"""Streaming corpus curation: the LLM-pipeline ops as continuous queries.

A training-data pipeline at 100 TB is rarely a one-shot batch — documents
arrive continuously. These are the streaming twins of the ext/ batch ops:

- exact dedup as `dropDuplicatesWithinWatermark` on the text hash: state
  holds one entry per distinct hash and EXPIRES at the watermark, so an
  unbounded stream runs with bounded state (the batch twin is
  ext/dedup._dedup_exact);
- quality filtering reuses the EXACT batch Column expressions
  (ext/text.quality_exprs) — stateless, so batch/stream parity is by
  construction, not re-implementation;
- per-source token telemetry as a watermarked tumbling-window aggregate
  (the corpus analogue of stream_bars).

All keyed state hashes on uniform md5/source keys — no skew at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_ta_spark.caches import SessionCache, table_fingerprint


def stream_dedup_exact(docs: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """First-seen exact dedup on a document stream.

    Input needs (doc_id, text, ingest_ts). Emits only the first document
    per normalized-text hash; later copies are dropped while their hash is
    in state, and state older than the watermark is evicted — the
    deliberate streaming tradeoff (a dup arriving later than the watermark
    gap passes; the periodic batch job catches it)."""
    h = F.md5(F.lower(F.trim(F.col("text"))))
    return (
        docs.select("doc_id", "text", "ingest_ts", h.alias("text_hash"))
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def stream_quality_keep(docs: DataFrame) -> DataFrame:
    """Streaming quality filter: the batch scoring expressions applied to
    a stream (stateless projection+filter — survives any micro-batch
    boundary trivially). Emits scored keepers only."""
    from pandas_ta_spark.ext.text import quality_exprs

    q = quality_exprs()
    return (
        docs.select(
            "doc_id",
            q["n_tokens"].alias("n_tokens"),
            q["quality_score"].alias("quality_score"),
            q["keep"].alias("keep"),
        )
        # reuse the batch-side keep expression verbatim: batch/stream
        # parity holds by construction even if the threshold changes
        .filter(F.col("keep") == 1)
        .drop("keep")
    )


def stream_quality_lr_keep(docs: DataFrame) -> DataFrame:
    """Streaming twin of the logistic quality classifier
    (ext/text.quality_lr_exprs): same stateless scoring expressions, so
    batch/stream parity is by construction; emits scored keepers only."""
    from pandas_ta_spark.ext.text import quality_lr_exprs

    q = quality_lr_exprs()
    return (
        docs.select(
            "doc_id",
            q["n_tokens"].alias("n_tokens"),
            q["z"].alias("z"),
            q["p_keep"].alias("p_keep"),
            q["keep"].alias("keep"),
        )
        .filter(F.col("keep") == 1)
        .drop("keep")
    )


def stream_token_rate(docs: DataFrame, window: str = "1 hour",
                      watermark: str = "2 hours") -> DataFrame:
    """Per-source token throughput in tumbling event-time windows — the
    corpus-ingest telemetry query (docs/sec and tokens/sec per source,
    late data handled by the watermark)."""
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), " ")).cast("long")
    return (
        docs.select("source", "ingest_ts", n_tok.alias("n_tok"))
        .withWatermark("ingest_ts", watermark)
        .groupBy("source", F.window("ingest_ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select("source", F.col("w.start").alias("window_start"),
                "n_docs", "n_tokens")
    )


def stream_split_assign(docs: DataFrame) -> DataFrame:
    """Streaming train/val/test assignment: the batch split Column
    applied to a document stream. Stateless projection — deterministic
    across micro-batch boundaries, restarts, and reprocessing, because
    the assignment hashes only the doc id (never arrival order or
    time)."""
    from pandas_ta_spark.ext.sampling import split_expr

    return docs.select("doc_id", "text", split_expr().alias("split"))


def _band_key_stream_exprs():
    """MinHash band keys as STATELESS per-row array expressions.

    The batch derivation (ext/dedup._dedup_minhash) builds signatures by
    exploding shingles and taking groupBy minima; a stream cannot chain
    that aggregation in front of a stateful operator, but the identical
    signature is expressible per row: array_distinct over the in-row
    shingle list, md5-derived (h1, h2) per shingle, and array_min per
    Kirsch-Mitzenmacher hash. Same md5, same integer arithmetic, same
    band keys bit-for-bit — batch/stream bucket parity holds by
    construction (pinned by the parity pytest)."""
    from pandas_ta_spark.ext.dedup import N_BANDS, N_HASHES, SHINGLE_K

    # expressions reference a pre-bound `toks` column — callers must
    # project split(lower(trim(text)), ' ') AS toks first (inlining the
    # split into the lambda would re-split the text per element, O(n^2))
    sh = (f"array_distinct(transform(sequence(0, size(toks) - {SHINGLE_K}),"
          f" i -> concat_ws(' ', slice(toks, i + 1, {SHINGLE_K}))))")
    hs = (f"transform({sh}, s -> named_struct("
          "'h1', cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint), "
          "'h2', cast(conv(substring(md5(s), 9, 8), 16, 10) as bigint)))")
    # 60-bit verification-key set — the same md5 slice the batch
    # collect_set("k") aggregates (ext/dedup._hashed_shingles), so
    # stream-side Jaccard verification uses bit-identical key sets
    ks = (f"array_distinct(transform({sh}, s ->"
          " cast(conv(substring(md5(s), 17, 15), 16, 10) as bigint)))")
    rows_per_band = N_HASHES // N_BANDS
    mh = [
        f"array_min(transform(hs, h -> (h.h1 + {j} * h.h2) % 4294967296))"
        for j in range(N_HASHES)
    ]
    bands = [
        (b, "concat_ws('_', "
            + ", ".join(mh[b * rows_per_band + r] for r in range(rows_per_band))
            + ")")
        for b in range(N_BANDS)
    ]
    return hs, bands, ks


def _banded_rows(t: DataFrame, carry: tuple) -> DataFrame:
    """One (carry..., ks, band, bkey) row per (shingleable doc, band):
    the stateless per-row MinHash signature relation. ``t`` must hold a
    pre-bound ``toks`` array column (bind the split once — see the note
    in `_band_key_stream_exprs`). The SINGLE definition of the
    band-explode wiring, shared by the corpus gate, the curation
    clauses and the ingest loop's in-batch self-join (code-review r8:
    three hand-maintained copies had to stay bit-identical for the
    parity guarantees to hold)."""
    from pandas_ta_spark.ext.dedup import SHINGLE_K

    hs, bands, ks = _band_key_stream_exprs()
    band_structs = F.array(*[
        F.struct(F.lit(b).cast("int").alias("band"),
                 F.expr(expr).alias("bkey"))
        for b, expr in bands
    ])
    return (
        t.filter(F.size("toks") >= SHINGLE_K)
        .select(*carry, F.expr(hs).alias("hs"), F.expr(ks).alias("ks"))
        .select(*carry, "ks", F.explode(band_structs).alias("p"))
        .select(*carry, "ks", "p.band", "p.bkey")
    )


def stream_neardup_candidates(docs: DataFrame,
                              watermark: str = "2 hours") -> DataFrame:
    """Streaming MinHash/LSH near-duplicate pre-filter.

    Input needs (doc_id, text, ingest_ts). Each document's 4 LSH band
    keys are computed statelessly (same values as the batch signature —
    see _band_key_stream_exprs), then a stateful operator keyed on
    (band, bkey) remembers the FIRST document seen in each bucket and
    flags every later bucket-mate as a near-dup candidate. A document is
    a candidate iff ANY of its band rows is flagged — the same candidate
    semantics as the batch band self-join, minus the true-Jaccard
    verification, which state cannot afford (it would have to carry full
    shingle sets); as with stream_dedup_exact, the periodic batch job
    (`dedup_minhash_lsh`) is the documented verifier/backstop.

    State per bucket is ONE long (the first doc_id); keys are uniform
    minhash strings, so state sharding has no skew at 100 TB."""
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from pandas_ta_spark.ext.dedup import SHINGLE_K

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("band", IntegerType()),
        StructField("bkey", StringType()),
        StructField("first_doc_id", LongType()),
        StructField("is_candidate", BooleanType()),
    ])
    state_schema = StructType([StructField("first_doc", LongType())])

    def update(key, pdfs, state):
        import pandas as pd

        first = state.get[0] if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ingest_ts", "doc_id"])
        firsts, flags = [], []
        for doc in rows["doc_id"]:
            if first is None:
                first = int(doc)
            firsts.append(first)
            flags.append(int(doc) != first)
        state.update((first,))
        yield pd.DataFrame({
            "doc_id": rows["doc_id"].astype("int64"),
            "band": key[0], "bkey": key[1],
            "first_doc_id": firsts, "is_candidate": flags,
        })

    hs, bands, _ = _band_key_stream_exprs()
    with_toks = docs.select(
        "doc_id", "ingest_ts",
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
    )
    with_sig = (
        with_toks
        .filter(F.size("toks") >= SHINGLE_K)  # too short to shingle
        .select("doc_id", "ingest_ts", F.expr(hs).alias("hs"))
    )
    band_structs = F.array(*[
        F.struct(F.lit(b).cast("int").alias("band"),
                 F.expr(expr).alias("bkey"))
        for b, expr in bands
    ])
    banded = (
        with_sig.select("doc_id", "ingest_ts",
                        F.explode(band_structs).alias("p"))
        .select("doc_id", "ingest_ts", "p.band", "p.bkey")
        .withWatermark("ingest_ts", watermark)
    )
    return banded.groupBy("band", "bkey").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# Static corpus dedup index (banded signatures + verification-key sets),
# built once per session per corpus predicate — the "existing corpus"
# side of the online ingestion gate.
_CORPUS_INDEX_CACHE = SessionCache()


def _fold_decisions(marked: DataFrame) -> DataFrame:
    """Per-document batch fold of `_curation_marked` rows: one row with
    (doc_id, source, text, n_tok, keep). The single definition of the
    keep combination, shared by the sink and the ingest loop."""
    return marked.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.first("text").alias("text"),
        F.first("n_tok").alias("n_tok"),
        (F.first("q_keep") & F.first("s_keep") & F.first("exact_keep")
         & (F.max(F.coalesce("hit", F.lit(0))) == 0)).alias("keep"),
    )


def _corpus_dedup_index(spark, sf_dir: str, corpus_pred: str | None = None):
    """(band, bkey, corpus_doc_id, corpus_ks, corpus_n) — the banded
    MinHash index of the static corpus (optionally restricted by the
    SQL predicate ``corpus_pred``, e.g. the eval slice), materialized
    once per session per predicate. Exactly the batch signature
    machinery (ext/dedup._minhash_sig / _banded), so band keys and key
    sets match the stream-side stateless expressions bit-for-bit."""
    from pandas_ta_spark.ckpt import materialize
    from pandas_ta_spark.ext.dedup import _banded, _minhash_sig
    from pandas_ta_spark.sources.bars import load_table

    def build():
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        filtered = docs.filter(corpus_pred) if corpus_pred is not None else docs
        sig = _minhash_sig(filtered.repartition("doc_id"))
        return materialize(
            _banded(sig).join(
                sig.select("doc_id", "ks", F.size("ks").alias("corpus_n")),
                "doc_id")
            .select("band", "bkey",
                    F.col("doc_id").alias("corpus_doc_id"),
                    F.col("ks").alias("corpus_ks"), "corpus_n")
        )

    key = SessionCache.key(spark, sf_dir, corpus_pred,
                           version=table_fingerprint(sf_dir, "documents"))
    return _CORPUS_INDEX_CACHE.cached(key, build)


def stream_dedup_vs_corpus(docs: DataFrame, spark, sf_dir: str,
                           watermark: str = "2 hours",
                           corpus_pred: str | None = None,
                           threshold: float | None = None) -> DataFrame:
    """Online ingestion dedup gate: every streamed document is checked
    against the STATIC reference corpus with full MinHash/LSH + true
    Jaccard verification — the "is this incoming page already in my
    training set" deployment (the in-stream variant,
    `stream_neardup_candidates`, dedups the stream against ITSELF and
    cannot afford the verify; against a static corpus the key sets live
    on the index side, so verification is exact).

    Input needs (doc_id, text, ingest_ts). Per streamed row the band
    keys AND the 60-bit verification-key set are stateless expressions
    (bit-identical to the batch signature); a stream-static equi-join on
    (band, bkey) pulls corpus bucket-mates, true Jaccard filters at the
    batch JACCARD_THRESHOLD, and one dropDuplicatesWithinWatermark
    collapses multi-band hits of the same (doc, corpus doc) pair. Emits
    (doc_id, corpus_doc_id, n_inter, jaccard, ingest_ts).

    100 TB shape: the index is corpus-sized but joined on uniform
    minhash band keys (no skew); per streamed doc the scan touches only
    its 4 buckets' mates. The only stateful operator is the pair dedup,
    keyed on (doc_id, corpus_doc_id) with watermark eviction."""
    from pandas_ta_spark.ext.dedup import JACCARD_THRESHOLD, SHINGLE_K

    tau = JACCARD_THRESHOLD if threshold is None else threshold
    idx = _corpus_dedup_index(spark, sf_dir, corpus_pred)
    banded = _banded_rows(
        docs.select(
            "doc_id", "ingest_ts",
            F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
        ),
        ("doc_id", "ingest_ts"),
    )
    n_inter = F.size(F.array_intersect("ks", "corpus_ks")).cast("long")
    matched = (
        banded.join(idx, ["band", "bkey"])
        .select(
            "doc_id", "ingest_ts", "corpus_doc_id",
            n_inter.alias("n_inter"),
            (n_inter / (F.size("ks") + F.col("corpus_n") - n_inter))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )
    return (
        matched.withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["doc_id", "corpus_doc_id"])
    )


def stream_decontamination_gate(docs: DataFrame, spark, sf_dir: str,
                                watermark: str = "2 hours") -> DataFrame:
    """Ingestion-time FUZZY benchmark decontamination: every streamed
    training document is checked against the held-out eval slice's
    MinHash index at the batch fuzzy threshold — the streaming twin of
    `contamination_minhash` ("don't train on the test set" enforced at
    the door instead of in a periodic sweep). Same band keys, key sets
    and Jaccard as the batch op; emits one row per verified
    (doc, eval doc) collision.

    The stream side drops eval-slice doc_ids BEFORE banding (ADVICE r7):
    the batch op's train side is ``~is_eval``, so without this filter a
    full-corpus replay would emit eval-vs-eval self-collisions
    (jaccard 1.0) the batch op never reports. Strict batch parity now
    holds for ANY stream content, not just pre-split train slices."""
    from pandas_ta_spark.ext.dedup import (
        FUZZY_CONTAM_THRESHOLD, FUZZY_EVAL_MOD, FUZZY_EVAL_REM,
    )

    return stream_dedup_vs_corpus(
        docs.filter(f"doc_id % {FUZZY_EVAL_MOD} != {FUZZY_EVAL_REM}"),
        spark, sf_dir, watermark=watermark,
        corpus_pred=f"doc_id % {FUZZY_EVAL_MOD} = {FUZZY_EVAL_REM}",
        threshold=FUZZY_CONTAM_THRESHOLD,
    )


# ------------------------------------------------ span-level dup gate ----

_SPAN_INDEX_CACHE = SessionCache()


def _corpus_span_index(spark, sf_dir: str):
    """(h, n_docs, only_doc) — one row per DISTINCT corpus span hash,
    materialized once per session: n_docs = distinct corpus owners,
    only_doc = the single owner when n_docs == 1 (NULL otherwise). The
    only_doc column is what makes corpus replay exact: a streamed doc's
    span is a dup iff some OTHER corpus doc owns it, i.e.
    n_docs >= 2 OR only_doc != doc_id — precisely the batch
    `dedup_spans` n_docs_with_span >= 2 semantics when the stream IS
    the corpus, and plain containment (n_docs >= 1) for genuinely new
    docs. Index size is the distinct-span count; at 100 TB this is the
    suffix-array-shaped artifact a span-dedup service keeps resident."""
    from pandas_ta_spark.ckpt import materialize
    from pandas_ta_spark.ext.dedup import span_relation
    from pandas_ta_spark.sources.bars import load_table

    def build():
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return materialize(
            span_relation(docs).groupBy("h").agg(
                F.count_distinct("doc_id").alias("n_docs"),
                F.when(F.count_distinct("doc_id") == 1, F.min("doc_id"))
                .alias("only_doc"),
            )
        )

    key = SessionCache.key(spark, sf_dir,
                           version=table_fingerprint(sf_dir, "documents"))
    return _SPAN_INDEX_CACHE.cached(key, build)


def stream_span_dup_gate(docs: DataFrame, spark, sf_dir: str,
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Ingestion-time SPAN-level dup telemetry: per streamed document,
    the fraction of its sliding SPAN_W-token windows already present in
    the static corpus under another doc_id — the streaming twin of
    `dedup_spans` (Lee et al. 2022 span dedup enforced at the door:
    a boilerplate paragraph shared with the corpus flags even when the
    document as a whole is novel).

    Input needs (doc_id, text, ingest_ts). Per streamed row the span
    hashes are stateless expressions (`span_relation`, bit-identical to
    the index build); a stream-static LEFT join on the uniform hash key
    marks containment, and one watermarked per-(window, doc) aggregation
    folds the verdicts. Emits (window_start, doc_id, n_spans,
    n_dup_spans, dup_span_frac); docs shorter than SPAN_W tokens have no
    spans and emit nothing (as batch). Replaying the corpus through the
    gate reproduces the batch dup_span_frac exactly (parity-tested).

    100 TB shape: the index is distinct-span-sized but joined on a
    uniform md5 key (no skew); state is one counter pair per in-flight
    (window, doc), watermark-evicted."""
    from pandas_ta_spark.ext.dedup import span_relation

    sp = span_relation(docs, "ingest_ts")
    idx = _corpus_span_index(spark, sf_dir)
    dup = (
        (F.col("n_docs") >= 2)
        | ((F.col("n_docs") == 1) & (F.col("only_doc") != F.col("doc_id")))
    )
    marked = (
        sp.join(idx, "h", "left")
        .select("doc_id", "ingest_ts",
                F.coalesce(dup, F.lit(False)).cast("int").alias("dup"))
    )
    return (
        marked.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"), "doc_id")
        .agg(F.count(F.lit(1)).alias("n_spans"),
             F.sum("dup").alias("n_dup_spans"))
        .select(
            F.col("w.start").alias("window_start"), "doc_id",
            "n_spans", "n_dup_spans",
            (F.col("n_dup_spans") / F.col("n_spans")).alias("dup_span_frac"),
        )
    )


# -------------------------------------------- embedding (SemDeDup) gate ----

_BANDED_VEC_INDEX_CACHE = SessionCache()


def _corpus_banded_vec_index(spark, sf_dir: str):
    """The static side of the semantic gate, materialized ONCE per
    session: corpus vectors with their banded signature, exploded to
    (band, bits) join rows. Without the cache every micro-batch
    re-evaluated the 32-plane signature (2048 multiply-adds per corpus
    vector) plus the 4x posexplode on top of the cached vector relation
    (code-review r10)."""
    from pandas_ta_spark.ckpt import materialize
    from pandas_ta_spark.ext.similarity import (
        _corpus_nd_bits, _nd_bands_expr, _spark_vectors_cached,
    )

    def build():
        v = _spark_vectors_cached(spark, sf_dir)
        bits = _corpus_nd_bits(spark, sf_dir)  # batch-parity band width
        return materialize(
            v.select("vec_id", "e", "nrm",
                     _nd_bands_expr("e", bits).alias("bands"))
            .select(F.col("vec_id").alias("corpus_vec_id"),
                    F.col("e").alias("ce"), F.col("nrm").alias("cn"),
                    F.col("bands").alias("cbands"),
                    F.posexplode("bands").alias("band", "bits"))
        )

    key = SessionCache.key(spark, sf_dir,
                           version=table_fingerprint(sf_dir, "embeddings"))
    return _BANDED_VEC_INDEX_CACHE.cached(key, build)


def stream_semdedup_gate(vecs: DataFrame, spark, sf_dir: str,
                         threshold: float = 0.99) -> DataFrame:
    """Ingestion-time SEMANTIC dedup: every streamed embedding is checked
    against the static corpus via the hyperplane-LSH bucket index with
    EXACT cosine verification — the streaming twin of
    `neardup_cosine_lsh` (SemDeDup at the door: a paraphrased or
    re-encoded copy that exact/MinHash gates miss still collides in
    embedding space).

    Input needs (vec_id, embedding array<float/double>, ingest_ts).
    Fully STATELESS: the banded signature is one per-row expression
    (`_nd_bands_expr`, bit-identical to the batch bucketing),
    candidates come from a stream-static equi-join on the
    band-exploded (band, bits) key, a candidate that collides in
    several bands is kept only at its FIRST matching band (both sides
    carry the full band array, so the dedup is a per-row expression —
    no watermark, no state store), and the exact cosine (same
    left-associated dot as batch) filters at ``threshold``. Emits
    (vec_id, corpus_vec_id, score, ingest_ts), score fixed-point
    rounded exactly as the batch pair op; a corpus vector with the same
    id is excluded as a self-match (replay parity).

    100 TB shape: per streamed vector the join touches ND_BANDS
    band-buckets' corpus lists (~2^-ND_BITS of the corpus each).
    Recall matches the batch op's by construction — identical banded
    bucketing, so identical candidate sets."""
    from pandas_ta_spark.ext.similarity import (
        _corpus_nd_bits, _nd_bands_expr, _spark_dot,
    )

    idx = _corpus_banded_vec_index(spark, sf_dir)
    bits = _corpus_nd_bits(spark, sf_dir)  # same width as the index
    q = (
        vecs.select(
            "vec_id", "ingest_ts",
            F.transform(F.col("embedding"),
                        lambda x: x.cast("double")).alias("qe"),
        )
        .withColumn("qn", F.sqrt(_spark_dot("qe", "qe")))
        .withColumn("qbands", _nd_bands_expr("qe", bits))
        .select("vec_id", "ingest_ts", "qe", "qn", "qbands",
                F.posexplode("qbands").alias("band", "bits"))
    )
    first_match = F.expr(
        "array_position(zip_with(qbands, cbands, (x, y) -> x = y), true) - 1")
    score = _spark_dot("qe", "ce") / (F.col("qn") * F.col("cn"))
    return (
        q.join(idx, ["band", "bits"])
        .filter(F.col("corpus_vec_id") != F.col("vec_id"))
        .filter(F.col("band") == first_match)
        .select("vec_id", "corpus_vec_id",
                score.alias("score"), "ingest_ts")
        .filter(F.col("score") >= threshold)
        .select("vec_id", "corpus_vec_id",
                (F.floor(F.col("score") * 1e6 + F.lit(0.5)) / 1e6)
                .alias("score"), "ingest_ts")
    )


# ------------------------------------------- composed curation gate ----

_EXACT_INDEX_CACHE = SessionCache()


def _corpus_exact_index(spark, sf_dir: str):
    """(hh, exact_min) — min corpus doc_id per normalized-text md5,
    materialized once per session. The static side of the gate's exact
    dedup: first-document-wins resolved by ID (deterministic under any
    arrival order), exactly the batch keep-list's per-hash min."""
    from pandas_ta_spark.ckpt import materialize
    from pandas_ta_spark.sources.bars import load_table

    def build():
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return materialize(
            docs.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("hh"))
            .agg(F.min("doc_id").alias("exact_min"))
        )

    key = SessionCache.key(spark, sf_dir,
                           version=table_fingerprint(sf_dir, "documents"))
    return _EXACT_INDEX_CACHE.cached(key, build)


def _curation_marked(docs: DataFrame, spark, sf_dir: str,
                     extra_carry: tuple = (),
                     extra_band_index: DataFrame | None = None,
                     extra_exact_index: DataFrame | None = None,
                     any_id: bool = False) -> DataFrame:
    """Per-document clause columns + one `hit` row per band-join match —
    the pre-fold stage shared by `stream_curation_gate` (watermarked
    window fold) and `stream_curation_sink` (plain per-micro-batch
    fold). Works on streaming AND batch inputs: every operator here is
    a stateless projection or a join against a session-cached static
    index. ``extra_carry`` names input columns to thread through (the
    sink carries `text` so kept documents can be written out); the
    ``extra_*_index`` relations are unioned into the static sides —
    how `stream_corpus_ingest` makes the gate see previously-ACCEPTED
    streamed documents, not just the original corpus."""
    from pandas_ta_spark.ext.dedup import JACCARD_THRESHOLD, SHINGLE_K
    from pandas_ta_spark.ext.sampling import (
        SAMPLE_DEFAULT, SAMPLE_THRESHOLDS, _doc_hash,
    )
    from pandas_ta_spark.ext.text import quality_exprs

    ex_idx = _corpus_exact_index(spark, sf_dir)
    idx = _corpus_dedup_index(spark, sf_dir)
    if extra_exact_index is not None:
        # keep the per-hash MIN across both sides (first-owner-wins)
        ex_idx = (
            ex_idx.unionByName(extra_exact_index)
            .groupBy("hh").agg(F.min("exact_min").alias("exact_min"))
        )
    if extra_band_index is not None:
        idx = idx.unionByName(extra_band_index)
    q = quality_exprs()
    thr = F.lit(SAMPLE_DEFAULT)
    for src, t in SAMPLE_THRESHOLDS.items():
        thr = F.when(F.col("source") == src, F.lit(t)).otherwise(thr)

    base = (
        docs.select(
            "doc_id", "source", "ingest_ts", *extra_carry,
            F.md5(F.lower(F.trim(F.col("text")))).alias("hh"),
            F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
            q["n_tokens"].cast("long").alias("n_tok"),
            (q["keep"] == 1).alias("q_keep"),
            (F.substring(_doc_hash(), 1, 2) < thr).alias("s_keep"),
        )
        .join(ex_idx, "hh", "left")
        .withColumn(
            "exact_keep",
            F.coalesce(F.col("exact_min") == F.col("doc_id"), F.lit(True)),
        )
    )

    carry = ["doc_id", "source", "ingest_ts", *extra_carry, "n_tok",
             "q_keep", "s_keep", "exact_keep"]
    sig = _banded_rows(base, tuple(carry))
    # short docs have no signature and can never near-dup — they pass
    # straight to the fold as a single unmatched row
    short = base.filter(F.size("toks") < SHINGLE_K).select(
        *carry, F.lit(None).cast("array<bigint>").alias("ks"),
        F.lit(None).cast("int").alias("band"),
        F.lit(None).cast("string").alias("bkey"),
    )
    n_inter = F.size(F.array_intersect("ks", "corpus_ks")).cast("long")
    jac = n_inter / (F.size("ks") + F.col("corpus_n") - n_inter)
    # id rule (code-review r8): the batch keep-list drops the HIGHER id
    # of a verified pair, so the replay-parity gates compare ids; the
    # ingest loop is FIRST-ACCEPTED-WINS — everything in the index
    # (static corpus or accepted stream) was accepted before this doc,
    # so any verified non-self match drops it regardless of id
    # (otherwise a near-dup arriving later with a LOWER id would slip
    # past the index, inconsistent with the exact clause).
    id_rule = (
        (F.col("corpus_doc_id") != F.col("doc_id")) if any_id
        else (F.col("corpus_doc_id") < F.col("doc_id"))
    )
    hit = (
        F.col("corpus_doc_id").isNotNull()
        & id_rule
        & (jac >= JACCARD_THRESHOLD)
    )
    return (
        sig.unionByName(short)
        .join(idx, ["band", "bkey"], "left")
        .select(*carry, hit.cast("int").alias("hit"))
    )


def stream_curation_gate(docs: DataFrame, spark, sf_dir: str,
                         window: str = "1 hour",
                         watermark: str = "2 hours",
                         accepted_lake_dir: str | None = None) -> DataFrame:
    """The END-TO-END ingestion curation gate as ONE continuous query —
    the streaming twin of the batch `curation_pipeline`'s survivor
    stage: every streamed document gets the full keep decision

        keep = quality keep  ∧  hash sample  ∧  exact-dedup keeper
               ∧  no verified lower-id near-dup in the corpus

    with each clause the already-tested operator reused verbatim
    (quality/sample are the batch Column expressions; exact dedup is a
    stream-static join against the per-hash min-id index; near-dup is
    the banded MinHash join + true-Jaccard verify of
    `stream_dedup_vs_corpus`, restricted to lower-id partners — the
    batch keep-list's "drop the higher id of a verified pair").

    Input needs (doc_id, source, text, ingest_ts). Emits one decision
    row per document — (window_start, doc_id, source, n_tok, q_keep,
    s_keep, exact_keep, near_dup, keep) — kept AND dropped, so the
    stream doubles as curation telemetry. Replaying the corpus
    reproduces the batch survivor set exactly (parity-tested).
    Shard packing stays a periodic batch job: token-budget placement is
    a cross-document running sum, meaningless before the window closes.

    Plan: stateless projections + three stream-static joins (exact
    index on uniform md5, band index on uniform minhash keys, both
    session-cached) and ONE watermarked per-(window, doc) aggregation —
    state is a handful of flags per in-flight document. 100 TB shape:
    the only corpus-sized relations are the indexes, joined on uniform
    hash keys; nothing shuffles the stream beyond its own window
    fold.

    ``accepted_lake_dir`` points the gate at a `stream_corpus_ingest`
    lake: its band/exact indexes (snapshot at plan time, as in ANN
    serving) join the static side and the near-dup id rule switches to
    FIRST-ACCEPTED-WINS (`any_id`) — the continuous-telemetry view of
    the same decision the ingest loop enforces."""
    extra_band = extra_exact = None
    if accepted_lake_dir is not None:
        import os

        band_path = f"{accepted_lake_dir}/band_index"
        exact_path = f"{accepted_lake_dir}/exact_index"
        if _recover_index_dir(band_path) is not None:
            extra_band = spark.read.schema(BAND_INDEX_SCHEMA).parquet(band_path)
        if _recover_index_dir(exact_path) is not None:
            extra_exact = spark.read.schema(EXACT_INDEX_SCHEMA).parquet(
                exact_path)
    joined = _curation_marked(docs, spark, sf_dir,
                              extra_band_index=extra_band,
                              extra_exact_index=extra_exact,
                              any_id=accepted_lake_dir is not None)
    return (
        joined.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"), "doc_id")
        .agg(
            F.first("source").alias("source"),
            F.first("n_tok").alias("n_tok"),
            F.first("q_keep").alias("q_keep"),
            F.first("s_keep").alias("s_keep"),
            F.first("exact_keep").alias("exact_keep"),
            F.max(F.coalesce("hit", F.lit(0))).alias("near_dup"),
        )
        .select(
            F.col("w.start").alias("window_start"), "doc_id", "source",
            "n_tok", "q_keep", "s_keep", "exact_keep",
            (F.col("near_dup") == 1).alias("near_dup"),
            (F.col("q_keep") & F.col("s_keep") & F.col("exact_keep")
             & (F.col("near_dup") == 0)).cast("int").alias("keep"),
        )
    )


# ------------------------------------------- multimodal ingestion ----

def stream_media_features(docs: DataFrame) -> DataFrame:
    """Streaming multimodal ingestion: attach the opaque binary payload
    + typed metadata (`ext.media.with_media_column`) and run the
    Arrow-batched feature extractor (`ext.media.extract_features`) over
    a document stream — `mapInPandas` is stateless, so the streaming
    plan is the batch plan applied per micro-batch and parity holds by
    construction (pinned by test anyway). The real-decoder plug point
    (`decode_stub`) is the same: swap in PIL/torchaudio/ffmpeg and the
    stream decodes at ingestion.

    Input needs (doc_id, text, ingest_ts); emits the batch
    media_features columns. 100 TB shape: payload bytes ride the
    micro-batch scan as Arrow buffers; no state, no shuffle."""
    from pandas_ta_spark.ext.media import extract_features, with_media_column

    return extract_features(
        with_media_column(docs.select("doc_id", "text"))
        .select("doc_id", "content")
    )


def stream_curation_sink(docs: DataFrame, spark, sf_dir: str,
                         out_dir: str, checkpoint_dir: str):
    """The full ingestion loop: gate a document stream and WRITE the
    keepers to a source-partitioned parquet lake — readStream -> curation
    decision -> writeStream, the deployment shape of "this pipeline
    feeds the training corpus".

    `foreachBatch` is the right sink primitive here: inside it each
    micro-batch is a plain batch DataFrame, so the per-document fold is
    an ordinary groupBy (no watermark state at all — the decision
    depends only on the document and the static indexes), the document
    TEXT rides along (the continuous gate keeps its state to flags),
    and the write is a normal partitioned parquet append. Recovery
    semantics are the standard foreachBatch contract: the checkpoint
    makes retries replay a whole micro-batch, so a crash between write
    and commit can duplicate that batch's files in the lake
    (at-least-once); the downstream exact-dedup pass — which this
    pipeline already runs — makes that benign, and an atomic-rename /
    table-format sink upgrades it to exactly-once without touching the
    gate.

    Returns the started StreamingQuery (availableNow trigger — call
    ``awaitTermination()``; pass a file/kafka source for continuous
    runs)."""
    def write_batch(bdf: DataFrame, epoch_id: int) -> None:
        marked = _curation_marked(bdf, spark, sf_dir, extra_carry=("text",))
        kept = (
            _fold_decisions(marked)
            .filter(F.col("keep"))
            .select("doc_id", "source", "text", "n_tok")
        )
        (kept.write.mode("append").partitionBy("source")
         .parquet(out_dir))

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


BAND_INDEX_SCHEMA = ("band int, bkey string, corpus_doc_id long, "
                     "corpus_ks array<bigint>, corpus_n int")
EXACT_INDEX_SCHEMA = "hh string, exact_min long"


def _recover_index_dir(path: str):
    """Return ``path`` if the index dir exists, healing a crashed
    compaction swap first: the two-directory rename in
    `compact_ingest_lake` has a window where only ``<path>.old``
    exists — if we find that state, rename it back before reading
    (code-review r8: a crash there must not leave the gate running
    ungated forever). Returns None when neither dir exists."""
    import os

    if os.path.isdir(path):
        return path
    old = f"{path}.old"
    if os.path.isdir(old):
        os.rename(old, path)
        return path
    return None


def stream_corpus_ingest(docs: DataFrame, spark, sf_dir: str,
                         lake_dir: str, checkpoint_dir: str):
    """SELF-MAINTAINING corpus ingestion: the curation gate whose index
    GROWS with what it accepts. Each micro-batch is

      1. gated against the static corpus AND every previously-ACCEPTED
         streamed document (quality ∧ sample ∧ exact ∧ verified
         near-dup, all first-owner-wins),
      2. deduplicated WITHIN itself (in-batch exact min-id + banded
         MinHash self-join with true-Jaccard verify, lower id wins),
      3. survivors written to ``lake_dir/docs`` (source-partitioned)
         and their SIGNATURES appended to ``lake_dir/band_index`` /
         ``lake_dir/exact_index`` — the growing side of the gate.

    This closes the gap the static gates leave open: two near-identical
    documents arriving a day apart, neither in the original corpus,
    with the second rejected because the first was accepted.

    Semantics: FIRST-ACCEPTED-WINS. For a replay whose doc_ids arrive
    in increasing order this is exactly the batch min-id keep-list over
    (corpus ∪ stream); under out-of-order arrival the earlier-ACCEPTED
    document wins regardless of id (``any_id`` near-dup rule + the
    min-folded exact index — both clauses order-free; pinned by test,
    including a lower-id near-dup arriving after its accepted twin).

    100 TB shape: the appended index is signatures only (4 band keys +
    a 16-element key set per doc — ~100 bytes/doc, not the text);
    joins stay on uniform hash keys; in-batch self-joins touch one
    micro-batch. The index dirs are plain appended parquet here —
    production compacts them periodically (table format / sorted
    rewrite), which changes nothing semantically. foreachBatch retry
    semantics as in `stream_curation_sink` (at-least-once; min-id
    folds make replayed index rows idempotent for decisions).

    Returns the started StreamingQuery (availableNow trigger)."""
    from pandas_ta_spark.ext.dedup import JACCARD_THRESHOLD, SHINGLE_K

    docs_dir = f"{lake_dir}/docs"
    band_dir = f"{lake_dir}/band_index"
    exact_dir = f"{lake_dir}/exact_index"

    def _read_index(path: str, schema: str):
        if _recover_index_dir(path) is None:
            return None
        return spark.read.schema(schema).parquet(path)

    def ingest_batch(bdf: DataFrame, epoch_id: int) -> None:
        acc_band = _read_index(band_dir, BAND_INDEX_SCHEMA)
        acc_exact = _read_index(exact_dir, EXACT_INDEX_SCHEMA)

        # (1) corpus + accepted-index clauses, text carried for the write
        marked = _curation_marked(
            bdf, spark, sf_dir, extra_carry=("text",),
            extra_band_index=acc_band, extra_exact_index=acc_exact,
            any_id=True)
        decided = _fold_decisions(marked).filter(F.col("keep"))

        # (2a) in-batch exact: min id per normalized-text hash wins
        hh = F.md5(F.lower(F.trim(F.col("text"))))
        ex_min = (bdf.groupBy(hh.alias("hh"))
                  .agg(F.min("doc_id").alias("bmin")))

        # (2b) in-batch near-dup: banded self-join + true Jaccard,
        # the higher id of every verified pair drops (same signature
        # expressions as the gate — bit-identical keys)
        sig = _banded_rows(
            bdf.select("doc_id",
                       F.split(F.lower(F.trim(F.col("text"))), " ")
                       .alias("toks")),
            ("doc_id",),
        )
        a = sig.select(F.col("doc_id").alias("da"),
                       F.col("ks").alias("ka"), "band", "bkey")
        b = sig.select(F.col("doc_id").alias("db"),
                       F.col("ks").alias("kb"), "band", "bkey")
        ni = F.size(F.array_intersect("ka", "kb")).cast("long")
        inbatch_drop = (
            a.join(b, ["band", "bkey"])
            .filter(F.col("da") < F.col("db"))
            .filter((ni / (F.size("ka") + F.size("kb") - ni))
                    >= JACCARD_THRESHOLD)
            .select(F.col("db").alias("doc_id")).distinct()
        )

        survivors = (
            decided
            .withColumn("hh", hh)
            .join(ex_min, "hh")
            .filter(F.col("doc_id") == F.col("bmin"))
            .join(inbatch_drop, "doc_id", "left_anti")
            .select("doc_id", "source", "text", "n_tok", "hh")
        )

        # (3) land survivors + grow the indexes. Survivors are tiny
        # relative to the corpus; cache for the three writes.
        survivors = survivors.cache()
        try:
            (survivors.select("doc_id", "source", "text", "n_tok")
             .write.mode("append").partitionBy("source").parquet(docs_dir))
            (sig.join(survivors.select("doc_id"), "doc_id")
             .select("band", "bkey",
                     F.col("doc_id").alias("corpus_doc_id"),
                     F.col("ks").alias("corpus_ks"),
                     F.size("ks").cast("int").alias("corpus_n"))
             .write.mode("append").parquet(band_dir))
            (survivors.select("hh", F.col("doc_id").alias("exact_min"))
             .write.mode("append").parquet(exact_dir))
        finally:
            survivors.unpersist()

    return (
        docs.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_ingest_lake(spark, lake_dir: str) -> dict:
    """Periodic maintenance for `stream_corpus_ingest`'s appended index
    dirs — the compaction job the ingest docstring promises.

    Every micro-batch appends small parquet files; after N batches the
    band/exact indexes are N-file relations whose scan cost (file
    listing + footer reads) grows with batch count, not data. Compaction
    rewrites each index as ONE sorted relation: the exact index folds to
    min(exact_min) per hash (replayed at-least-once rows collapse), the
    band index dedups exact replays, and both are written sorted by
    their join key so the re-read clusters bucket-mates. Atomic swap via
    rename: write to `<dir>.compact`, then replace — a reader mid-swap
    sees the old or the new snapshot, never a mix.

    Concurrency/crash contract (code-review r8): the swap is TWO
    directory renames, so there is a window where only ``<dir>.old``
    exists. Run compaction while the ingest query is stopped (it is an
    availableNow maintenance job); if a crash lands in the window,
    `_recover_index_dir` — called by every index read — renames
    ``.old`` back, so the gate never runs ungated. True single-rename
    atomicity needs a table format or versioned-symlink layout, which
    this plain-parquet lake deliberately avoids.

    Returns {"band_rows": n, "exact_rows": n} for telemetry."""
    import os
    import shutil

    stats = {}
    for sub, schema, key_cols, fold in (
        ("band_index", BAND_INDEX_SCHEMA, ["band", "bkey"], "dedup"),
        ("exact_index", EXACT_INDEX_SCHEMA, ["hh"], "min"),
    ):
        tag = sub.removesuffix("_index")
        path = f"{lake_dir}/{sub}"
        if _recover_index_dir(path) is None:
            stats[f"{tag}_rows"] = 0
            continue
        # explicit schema: a dir holding only _SUCCESS (a batch whose
        # survivors had no signatures) must compact to empty, not
        # crash schema inference
        df = spark.read.schema(schema).parquet(path)
        if fold == "min":
            df = df.groupBy("hh").agg(F.min("exact_min").alias("exact_min"))
        else:
            df = df.dropDuplicates()
        # coalesce FIRST, sort the single merged partition after —
        # the reverse order concatenates per-partition sorted runs
        # and the file would not be globally key-clustered
        df = df.coalesce(1).sortWithinPartitions(*key_cols)
        tmp = f"{path}.compact"
        df.write.mode("overwrite").parquet(tmp)
        stats[f"{tag}_rows"] = spark.read.schema(schema).parquet(tmp).count()
        old = f"{path}.old"
        shutil.rmtree(old, ignore_errors=True)  # stale from a prior crash
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    return stats


def read_ingest_lake(spark, lake_dir: str) -> DataFrame:
    """Deduped view of the ingest lake's accepted documents: the
    downstream reader's side of the foreachBatch at-least-once contract
    — a replayed micro-batch appends duplicate doc rows, which fold
    here to ONE deterministic row per doc_id (min-struct; duplicate
    rows from replays are bit-identical, so the fold is a no-op on
    content). Keeps the consumer exactly-once without a table format."""
    return (
        spark.read.parquet(f"{lake_dir}/docs")
        .groupBy("doc_id")
        .agg(F.min(F.struct("source", "text", "n_tok")).alias("b"))
        .select("doc_id", F.col("b.source").alias("source"),
                F.col("b.text").alias("text"),
                F.col("b.n_tok").alias("n_tok"))
    )


_VOCAB_CACHE = SessionCache()


def _corpus_vocab_logp(spark, sf_dir: str):
    """((token, nlp6) relation, oov6) — the corpus-fitted unigram LM's
    quantized negative log-probs (add-one smoothing) plus the
    unseen-token mass -ln(1/(N+V)), materialized once per session: the
    static side of the streaming perplexity gate, sharing the exact
    arithmetic of the batch `perplexity_unigram` oracle op."""
    import math

    from pandas_ta_spark.ckpt import materialize
    from pandas_ta_spark.sources.bars import load_table

    def build():
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        tok = docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " "))
            .alias("token")).filter(F.col("token") != "")
        vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
        totals = vocab.agg(F.sum("c").alias("n_total"),
                           F.count(F.lit(1)).alias("v"))
        trow = totals.collect()[0]  # bounded: one row
        nlp6 = F.floor(
            -F.log((F.col("c") + 1).cast("double")
                   / float(trow["n_total"] + trow["v"]))
            * 1e6 + F.lit(0.5)
        ).cast("long")
        oov6 = int(math.floor(
            -math.log(1.0 / (trow["n_total"] + trow["v"])) * 1e6 + 0.5))
        return (materialize(vocab.select("token", nlp6.alias("nlp6"))),
                oov6)

    key = SessionCache.key(spark, sf_dir,
                           version=table_fingerprint(sf_dir, "documents"))
    return _VOCAB_CACHE.cached(key, build)


def stream_perplexity_gate(docs: DataFrame, spark, sf_dir: str,
                           window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """CCNet-style perplexity filtering at the ingestion door: every
    streamed document scored under the CORPUS-fitted unigram LM — the
    streaming twin of `perplexity_unigram`, with one deliberate
    divergence a static LM forces: tokens the corpus never saw score
    the LM's unseen-token mass ln(1/(N+V)) (the batch op, scoring the
    corpus against itself, has no unseen tokens — replay parity is
    exact, pinned by test; novel docs get the standard OOV treatment).

    Plan: token explode (stateless), LEFT join against the session
    vocab relation on the uniform token key, one watermarked
    per-(window, doc) integer fold. Emits (window_start, doc_id,
    n_tokens, avg_neg_logp)."""
    vocab, oov6 = _corpus_vocab_logp(spark, sf_dir)

    tok = docs.select(
        "doc_id", "ingest_ts",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " "))
        .alias("token"),
    ).filter(F.col("token") != "")
    scored = (
        tok.join(vocab, "token", "left")
        .select("doc_id", "ingest_ts",
                F.coalesce("nlp6", F.lit(oov6)).alias("nlp6"))
    )
    return (
        scored.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"), "doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("nlp6").alias("s6"))
        .select(
            F.col("w.start").alias("window_start"), "doc_id", "n_tokens",
            (F.floor(F.col("s6") / F.col("n_tokens") + F.lit(0.5)) / 1e6)
            .alias("avg_neg_logp"),
        )
    )


def stream_trending_terms(docs: DataFrame, k: int = 20,
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Corpus-ingest dashboard telemetry: the top-k tokens per
    event-time window by occurrence count — "what is the crawl feeding
    us right now". One watermarked (window, token) count (uniform token
    keys, map-side partials) chained into a per-window top-k fold (the
    same chained-windowed-aggregation shape as the two-stage ANN fold);
    ties break to the lexicographically smaller token, so output is
    deterministic. Emits (window_start, token, n, rank).

    State: one counter per (window, token) plus one candidate list per
    window — vocabulary-bounded, watermark-evicted."""
    tok = docs.select(
        "ingest_ts",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " "))
        .alias("token"),
    ).filter(F.col("token") != "")
    counted = (
        tok.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"), "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counted.groupBy("w")
        .agg(F.collect_list(F.struct(
            (-F.col("n")).alias("negn"), "token", "n")).alias("cands"))
        .select(
            F.col("w.start").alias("window_start"),
            F.posexplode(F.expr(f"slice(array_sort(cands), 1, {k})"))
            .alias("pos", "c"),
        )
        .select("window_start", F.col("c.token").alias("token"),
                F.col("c.n").alias("n"), (F.col("pos") + 1).alias("rank"))
    )
