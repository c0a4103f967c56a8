"""Online ANN serving: a stream of query vectors probed against the
session's trained IVF index (the batch index of ext/similarity).

The serving shape every resident vector engine runs: the index (K-row
centroid table + inverted file + vector relation) is a STATIC build
artifact trained once (`ext/similarity._ivf_lists`, cached per session);
queries arrive continuously and each micro-batch probes only the NPROBE
nearest inverted lists. Structured Streaming expresses this as
stream-static joins — the stream side stays tiny (queries), the static
side is the index — plus one watermarked per-query aggregation for the
top-k (append mode emits a query's result once its event-time window
closes).

Probe selection embeds the K centroids as literal expressions (collected
once at plan-build — exactly the "centroids live in server memory" of a
real ANN deployment; K is 8 rows). Candidate scoring reuses the same
left-associated dot products as the batch op, so stream results are
BIT-IDENTICAL to `_topk_ivf` for the same query vectors (parity-tested).

Scale notes: per-query candidates are ~NPROBE/K of the corpus, held as
one collect_list per (window, query) state entry until the watermark
closes the window — bounded by list sizes. For corpora where a single
list outgrows state comfort, pass ``two_stage=True``: a per-(window,
query, probed list) partial top-k (chained windowed aggregation) runs
before the final merge, capping state at k rows per probed list — the
standard distributed top-k, exact because each vector lives in exactly
one list (parity-tested bit-identical to single-stage and batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_ta_spark.caches import SessionCache, table_fingerprint


def _probed_queries(queries: DataFrame, centn) -> DataFrame:
    """Normalize the query stream and attach its NPROBE nearest centroid
    ids, as ONE expression over the K collected centroid literals: sort
    ascending by (-score, centroid_id) == score DESC, id ASC — the batch
    tie-break. Shared by the IVF and IVF-PQ streaming servers so probe
    selection cannot drift between them."""
    from pandas_ta_spark.ext.similarity import NPROBE, _dot_str

    q = queries.select(
        "query_id",
        "ingest_ts",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("qe"),
    )
    q = q.withColumn("qn", F.sqrt(F.expr(_dot_str("qe", "qe"))))
    cents = sorted(centn.collect(), key=lambda r: r["centroid_id"])
    probe_structs = []
    for r in cents:
        dot = " + ".join(
            f"qe[{i}] * CAST({float(r['ce'][i])!r} AS DOUBLE)"
            for i in range(len(r["ce"]))
        )
        score = f"(({dot}) / (qn * CAST({float(r['cn'])!r} AS DOUBLE)))"
        probe_structs.append(
            f"struct(-({score}) AS negscore, {int(r['centroid_id'])}L AS cid)"
        )
    probes = F.expr(
        "slice(array_sort(array(" + ", ".join(probe_structs) + f")), 1, {NPROBE})"
    )
    return (
        q.withColumn("p", F.explode(probes))
        .select("query_id", "ingest_ts", "qe", "qn",
                F.col("p.cid").alias("centroid_id"))
    )


def _topk_fold(scored: DataFrame, score_col: str, window: str,
               watermark: str, k: int, centroid_col: str | None = None):
    """Watermarked per-(event-time window, query) top-k: ascending sort
    of (-score, match_id) structs == score DESC, match_id ASC — the
    batch row_number tie-break. Works for double and exact-integer
    scores alike (negation is exact for both).

    Serving contract (ADVICE r7): state is keyed by (window, query_id),
    so ONE query vector per (window, query_id) gets the batch's
    one-row-per-rank shape. Resubmitting the SAME vector in the same
    window is idempotent — duplicate (negscore, match_id) structs are
    dropped by array_distinct before the slice. Submitting a DIFFERENT
    vector under a reused query_id inside one window merges its
    candidates into the same top-k (distinct structs, no basis to pick
    a winner) — callers wanting per-submission results must namespace
    query ids per submission.

    ``centroid_col`` switches on the TWO-STAGE fold — the standard
    distributed top-k: stage 1 keeps only the per-(window, query,
    inverted list) top-k (a chained windowed aggregation — Spark >= 3.4
    re-aggregates on the window struct), stage 2 merges the NPROBE
    partial lists. Exact: every vector lives in exactly one list, so
    the global top-k is a subset of the union of per-list top-ks. State
    drops from the full candidate list per (window, query) to k rows
    per (window, query, probed list) — the shape to serve when a single
    inverted list outgrows state comfort at corpus scale."""
    # insurance, not the fix: a NULL score would sort FIRST as a
    # negscore struct (verified) — the lake dedup upstream prevents the
    # known cause, this keeps any future one out of the rankings
    wm = (scored.filter(F.col(score_col).isNotNull())
          .withWatermark("ingest_ts", watermark))
    cand = F.struct((-F.col(score_col)).alias("negscore"), "match_id")
    if centroid_col is not None:
        partial = (
            wm.groupBy(F.window("ingest_ts", window).alias("w"),
                       "query_id", centroid_col)
            .agg(F.collect_list(cand).alias("cands"))
            .select(
                "w", "query_id",
                F.explode(
                    F.slice(F.array_sort(F.array_distinct("cands")), 1, k))
                .alias("c"),
            )
        )
        return (
            partial.groupBy("w", "query_id")
            .agg(F.collect_list("c").alias("cands"))
            .select(
                F.col("w.start").alias("window_start"), "query_id",
                # stage-1 slices are per-list distinct; across lists a
                # match_id appears once (one list per vector), so no
                # second distinct is needed
                F.posexplode(F.slice(F.array_sort("cands"), 1, k))
                .alias("pos", "c"),
            )
        )
    return (
        wm.groupBy(F.window("ingest_ts", window).alias("w"), "query_id")
        .agg(F.collect_list(cand).alias("cands"))
        .select(
            F.col("w.start").alias("window_start"), "query_id",
            F.posexplode(
                F.slice(F.array_sort(F.array_distinct("cands")), 1, k))
            .alias("pos", "c"),
        )
    )


def stream_topk_ivf(
    queries: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    *,
    window: str = "1 hour",
    watermark: str = "1 hour",
    two_stage: bool = False,
    extra_vectors_dir: str | None = None,
) -> DataFrame:
    """Probe a query-vector stream against the session IVF index.

    ``queries`` needs (query_id, embedding array<float/double>,
    ingest_ts). Emits (window_start, query_id, match_id, rank, score)
    rows — the batch `_topk_ivf` columns plus the event-time window —
    once the query's window passes the watermark.

    Query ids share the corpus id namespace for parity with the batch
    gate op (a corpus vector with the same id is excluded as a
    self-match); external serving should namespace query ids disjointly,
    which makes the exclusion inert."""
    from pandas_ta_spark.ext.similarity import TOP_K, _dot_str, _ivf_lists

    v, centn, lists = _ivf_lists(spark, sf_dir)
    v, lists = _with_ingested(spark, v, lists, extra_vectors_dir)

    probed = _probed_queries(queries, centn)

    # stream-static joins: inverted lists supply candidate ids, the
    # vector relation supplies candidate embeddings; scoring is the
    # batch op's left-associated dot, so doubles agree bit-for-bit
    mv = lists.join(v, "vec_id").select(
        "centroid_id", F.col("vec_id").alias("match_id"),
        F.col("e").alias("me"), F.col("nrm").alias("mn"),
    )
    scored = (
        probed.join(mv, "centroid_id")
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "ingest_ts", "match_id", "centroid_id",
            (F.expr(_dot_str("qe", "me")) / (F.col("qn") * F.col("mn")))
            .alias("score"),
        )
    )

    folded = _topk_fold(scored, "score", window, watermark, TOP_K,
                        centroid_col="centroid_id" if two_stage else None)
    return folded.select(
        "window_start", "query_id",
        F.col("c.match_id").alias("match_id"),
        (F.col("pos") + 1).alias("rank"),
        (F.floor(-F.col("c.negscore") * 1e6 + F.lit(0.5)) / 1e6).alias("score"),
    )


def stream_topk_ivfpq(
    queries: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    *,
    window: str = "1 hour",
    watermark: str = "1 hour",
    two_stage: bool = False,
    extra_vectors_dir: str | None = None,
) -> DataFrame:
    """IVF-PQ serving on a query stream — the FAISS IndexIVFPQ shape as
    a continuous query, bit-identical to the batch `_topk_ivfpq`.

    Where the batch op joins a per-query LUT relation, the stream
    computes each query's ADC lookup table AS AN EXPRESSION over the
    collected codebook literals ("codebooks live in server memory"):
    lut[m][code] = floor(dot(qsub_m, cv_{m,code}) * 1e6 + 0.5) as exact
    integers. Candidates come from the probed inverted lists joined to a
    CODE-WIDE static relation (vec_id -> array of M_SUB codes), so a
    candidate's full ADC score is ONE zip_with/aggregate over integers —
    no per-(query, match, m) aggregation state at all, and the only
    stateful operator is the final top-k fold. Scan cost is the IVF-PQ
    promise: ~NPROBE/K of the corpus, M_SUB integer lookups each, no
    full-dimension vector math in the serving path."""
    from pandas_ta_spark.ext.similarity import (
        K_PQ, M_SUB, SUB_DIM, TOP_K, _ivf_lists, _pq_index,
    )

    v, centn, lists = _ivf_lists(spark, sf_dir)
    _, sub, cb, codes = _pq_index(spark, sf_dir)
    _, lists = _with_ingested(spark, v, lists, extra_vectors_dir)
    codes = _with_ingested_codes(spark, codes, extra_vectors_dir)

    probed = _probed_queries(queries, centn)

    # per-query LUT as ONE expression over codebook literals: for each
    # subspace m an array indexed BY CODE (absent codes — dropped empty
    # clusters — fill 0; they never appear in any candidate's codes).
    # The inner dot mirrors _pq_lut exactly: 0.0 + sv[0]*cv[0] + ...
    # with sv[d] = qe[m*SUB_DIM+d]/qn, then floor(*1e6+0.5) to BIGINT.
    cbrows = {(r["m"], r["code"]): r["cv"] for r in cb.collect()}
    per_m = []
    for m in range(M_SUB):
        per_code = []
        for code in range(K_PQ):
            cv = cbrows.get((m, code))
            if cv is None:
                per_code.append("CAST(0 AS BIGINT)")
                continue
            dot = "0.0" + "".join(
                f" + (qe[{m * SUB_DIM + d}] / qn)"
                f" * CAST({float(cv[d])!r} AS DOUBLE)"
                for d in range(SUB_DIM)
            )
            per_code.append(
                f"CAST(floor(({dot}) * 1e6 + 0.5) AS BIGINT)")
        per_m.append("array(" + ", ".join(per_code) + ")")
    lut = F.expr("array(" + ", ".join(per_m) + ")")

    # static code-wide relation: vec_id -> [code_0 .. code_{M_SUB-1}]
    codes_wide = (
        codes.groupBy("vec_id")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(m, code))),"
            " x -> x.code) AS mcodes"
        ))
    )

    cands = (
        probed.withColumn("lut", lut)
        .join(lists, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "ingest_ts", "lut", "centroid_id",
                F.col("vec_id").alias("match_id"))
        .join(codes_wide.withColumnRenamed("vec_id", "match_id"), "match_id")
    )
    # exact-integer ADC: sum over subspaces of lut[m][codes[m]] — a pure
    # expression, order-independent integer addition == the batch sum
    scored = cands.select(
        "query_id", "ingest_ts", "match_id", "centroid_id",
        F.expr(
            "aggregate(zip_with(lut, mcodes, (l, c) -> l[c]),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("score6"),
    )

    folded = _topk_fold(scored, "score6", window, watermark, TOP_K,
                        centroid_col="centroid_id" if two_stage else None)
    return folded.select(
        "window_start", "query_id",
        F.col("c.match_id").alias("match_id"),
        (F.col("pos") + 1).alias("rank"),
        (-F.col("c.negscore") / F.lit(1e6)).alias("score"),
    )


# ------------------------------------------------ online vector ingest ----

VECTOR_LAKE_SCHEMA = ("vec_id long, e array<double>, nrm double, "
                      "centroid_id long")


def _with_ingested(spark: SparkSession, v: DataFrame, lists: DataFrame,
                   lake_dir: str | None):
    """Union the vector lake (online-added vectors) into the serving
    relations. No-op when no lake is given or it is still empty.

    SNAPSHOT semantics: the lake is resolved when the SERVING query is
    planned — additions committed after serving starts need a serving
    restart (the index-version flip of a real ANN deployment).

    Dedup contract (code-review r8): lake rows fold to ONE row per
    vec_id (min-struct, deterministic) and corpus ids are excluded
    (static wins) — an at-least-once foreachBatch replay or an id
    collision would otherwise put the same match_id in the top-k twice
    with distinct scores."""
    import os

    if lake_dir is None:
        return v, lists
    path = f"{lake_dir}/vectors"
    if not os.path.isdir(path):
        return v, lists
    lv = (
        spark.read.schema(VECTOR_LAKE_SCHEMA).parquet(path)
        .join(v.select("vec_id"), "vec_id", "left_anti")
        .groupBy("vec_id")
        .agg(F.min(F.struct("e", "nrm", "centroid_id")).alias("b"))
        .select("vec_id", F.col("b.e").alias("e"),
                F.col("b.nrm").alias("nrm"),
                F.col("b.centroid_id").alias("centroid_id"))
    )
    v2 = v.unionByName(lv.select("vec_id", "e", "nrm"))
    lists2 = lists.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
    ).unionByName(lv.select("vec_id", "centroid_id"))
    return v2, lists2


CODES_LAKE_SCHEMA = "vec_id long, m int, code int"


def _with_ingested_codes(spark: SparkSession, codes: DataFrame,
                         lake_dir: str | None):
    """Union the vector lake's PQ codes into the serving code relation
    (no-op without a lake or before the first ingested batch; snapshot
    semantics as `_with_ingested`).

    Folds to ONE code per (vec_id, m) with corpus ids excluded
    (code-review r8): a duplicated code row would make codes_wide's
    mcodes array longer than M_SUB, zip_with would null-pad the LUT,
    the ADC sum would go NULL — and a NULL negscore struct sorts FIRST,
    so the corrupted candidate would surface at rank 1."""
    import os

    if lake_dir is None:
        return codes
    path = f"{lake_dir}/codes"
    if not os.path.isdir(path):
        return codes
    static = codes.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("m").cast("int").alias("m"),
        F.col("code").cast("int").alias("code"),
    )
    lc = (
        spark.read.schema(CODES_LAKE_SCHEMA).parquet(path)
        .join(static.select("vec_id").distinct(), "vec_id", "left_anti")
        .groupBy("vec_id", "m")
        .agg(F.min("code").alias("code"))
    )
    return static.unionByName(lc)


def stream_vector_ingest(vecs: DataFrame, spark: SparkSession, sf_dir: str,
                         lake_dir: str, checkpoint_dir: str):
    """Online index growth — the FAISS ``add()`` path as a continuous
    query: each streamed vector is normalized, assigned to the SESSION'S
    trained coarse quantizer (`ext.similarity.assign_vectors` — the
    identical argmax the batch inverted-file build uses, so an added
    copy of a corpus vector lands in its twin's list by construction),
    and appended to ``lake_dir/vectors``. A serving query started (or
    restarted) AFTER the adds picks them up via
    ``stream_topk_ivf(..., extra_vectors_dir=lake_dir)`` — the lake is
    snapshot at serving-plan time, the index-version flip of a real
    deployment.

    The trained artifacts (centroids, PQ codebooks) stay FROZEN — the
    standard serving contract: adds are cheap and exact against the
    existing quantizer; retraining is the periodic batch job when drift
    telemetry says so. Input needs (vec_id, embedding, ingest_ts).
    foreachBatch semantics as in `stream_curation_sink` (at-least-once;
    duplicate appended rows are harmless for top-k — same (score,
    match_id) struct, deduped by the serving fold's array_distinct).

    Returns the started StreamingQuery (availableNow trigger)."""
    from pandas_ta_spark.ext.similarity import (
        _ivf_lists, _pq_index, _pq_subs, _spark_dot, assign_vectors,
        pq_encode,
    )

    _, centn, _ = _ivf_lists(spark, sf_dir)
    _, _, cb, _ = _pq_index(spark, sf_dir)

    def add_batch(bdf: DataFrame, epoch_id: int) -> None:
        nv = (
            bdf.select(
                "vec_id",
                F.transform(F.col("embedding"),
                            lambda x: x.cast("double")).alias("e"),
            )
            .withColumn("nrm", F.sqrt(_spark_dot("e", "e")))
        )
        assigned = assign_vectors(nv, centn)
        (nv.join(assigned, "vec_id")
         .select("vec_id", "e", "nrm",
                 F.col("centroid_id").cast("long").alias("centroid_id"))
         .write.mode("append").parquet(f"{lake_dir}/vectors"))
        # PQ-encode the additions with the FROZEN session codebooks, so
        # the IVF-PQ server can ADC-score them (IndexIVFPQ add())
        (pq_encode(_pq_subs(nv), cb)
         .select(F.col("vec_id").cast("long").alias("vec_id"),
                 F.col("m").cast("int").alias("m"),
                 F.col("code").cast("int").alias("code"))
         .write.mode("append").parquet(f"{lake_dir}/codes"))

    return (
        vecs.writeStream.foreachBatch(add_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_CORPUS_MEAN_CACHE = SessionCache()


def _corpus_mean_cached(spark: SparkSession, sf_dir: str):
    """(cmean list, cnorm) — the corpus mean vector, computed once per
    session (code-review r8: every drift-telemetry call was paying a
    full posexplode corpus scan at plan-build; the DIM-row result is a
    build artifact like the centroids and belongs in the session
    cache)."""
    from pandas_ta_spark.ext.similarity import DIM, _spark_vectors_cached

    def build():
        cv = _spark_vectors_cached(spark, sf_dir)
        crow = (
            cv.select(F.posexplode("e").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.sum(F.floor(F.col("x") * 1e6 + F.lit(0.5)).cast("long"))
                 .alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        cmean = [0.0] * DIM
        for r in crow:
            cmean[r["pos"]] = (r["s"] / 1e6) / r["n"]
        cnorm = sum(x * x for x in cmean) ** 0.5
        return (cmean, cnorm)

    key = SessionCache.key(spark, sf_dir,
                           version=table_fingerprint(sf_dir, "embeddings"))
    return _CORPUS_MEAN_CACHE.cached(key, build)


def stream_embedding_drift(vecs: DataFrame, spark: SparkSession,
                           sf_dir: str, *, window: str = "1 hour",
                           watermark: str = "1 hour") -> DataFrame:
    """Embedding-distribution drift telemetry: per event-time window,
    the cosine between the window's MEAN vector and the static corpus
    mean — the signal that tells the (frozen-quantizer) ANN deployment
    when the periodic retrain is due. A mean-cosine near 1 says the
    incoming distribution still looks like the training corpus; a drop
    says the coarse quantizer's centroids no longer tile the data.

    Rerun-stable: per-dimension sums are 1e-6 fixed-point BIGINTs
    (associative integer addition — identical under any partitioning),
    folded in a chained windowed aggregation (dims-per-window, then
    window); the corpus mean is computed once from the session vector
    cache and embedded as literals. The final cosine carries the usual
    couple of float ulps (sqrt(n)*sqrt(n) != n), on top of exact
    sums.

    Emits (window_start, n_vecs, mean_norm, cos_to_corpus). 100 TB
    shape: state is DIM rows per in-flight window (dimension sums),
    then one row per window — independent of stream volume."""
    from pandas_ta_spark.ext.similarity import DIM

    cmean, cnorm = _corpus_mean_cached(spark, sf_dir)

    q6 = F.floor(F.col("x") * 1e6 + F.lit(0.5)).cast("long")
    dims = (
        vecs.select(
            "ingest_ts",
            F.posexplode(F.transform(
                F.col("embedding"), lambda x: x.cast("double")))
            .alias("pos", "x"),
        )
        .withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"), "pos")
        .agg(F.sum(q6).alias("s"), F.count(F.lit(1)).alias("n"))
    )
    folded = (
        dims.groupBy("w")
        .agg(
            F.max("n").alias("n_vecs"),
            F.expr("transform(array_sort(collect_list(struct(pos, s))),"
                   " p -> p.s)").alias("sums"),
        )
    )
    mean = F.expr("transform(sums, s -> (CAST(s AS DOUBLE) / 1e6) / n_vecs)")
    dot_c = " + ".join(
        f"mean[{i}] * CAST({cmean[i]!r} AS DOUBLE)" for i in range(DIM))
    norm_m = " + ".join(f"mean[{i}] * mean[{i}]" for i in range(DIM))
    return (
        folded.withColumn("mean", mean)
        .select(
            F.col("w.start").alias("window_start"),
            "n_vecs",
            F.sqrt(F.expr(norm_m)).alias("mean_norm"),
            (F.expr(dot_c)
             / (F.sqrt(F.expr(norm_m)) * F.lit(float(cnorm))))
            .alias("cos_to_corpus"),
        )
    )
