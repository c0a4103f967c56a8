"""Similarity search over the embeddings table (SURVEY.md §7.5).

Brute-force cosine top-k is the correctness baseline; the LSH variant
(random-hyperplane signs -> bucket join) is the 100 TB path: candidates
shrink from |Q|x|N| to bucket-mates only, one shuffle on the bucket key.

Determinism: dot products and norms are emitted as explicit
left-associated term sums — the identical IEEE addition order makes
Spark and DuckDB produce bit-identical doubles, so rank ties and rounded
scores agree. Hyperplanes are fixed literals derived from md5 (same text
baked into both sides).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_ta_spark.caches import SessionCache, table_fingerprint
from pandas_ta_spark.ckpt import materialize
from pandas_ta_spark.ext import ExtQuery
from pandas_ta_spark.operators.base import round_col, sql_round
from pandas_ta_spark.sources.bars import load_table

DIM = 64
N_QUERIES = 10
TOP_K = 5
N_PLANES = 4  # 16 LSH buckets (the broadcast-query ANN path)
# Near-dup pair LSH is BANDED (MinHash-LSH style): ND_BANDS tables of
# ND_BITS sign bits each; a pair is a candidate in its FIRST matching
# band only (exactly-once emission, no distinct shuffle). A single
# 4-bit table collapses any corpus into 16 buckets — at 50k vectors the
# self-join already produced ~184M candidate rows (measured on the
# x100-replica gate), and at 100 TB it IS the all-pairs join. Banding
# fixes selectivity AND recall simultaneously: random pairs collide per
# 8-bit band w.p. ~2^-8, while a cosine>=0.99 pair (angle <= 8.1deg,
# per-plane agreement ~0.955) matches a band w.p. 0.955^8 ~ 0.69 and
# ANY of 4 bands w.p. ~0.991 (vs 0.955^4 ~ 0.83 for the old single
# table); near-identical dups (cos ~ 0.9999) match w.p. ~1-1e-7.
#
# ADAPTIVE BITS (r12, x100-of-sf0.1 scale find): with a FIXED bit count
# the expected bucket occupancy grows linearly with the corpus and the
# in-bucket self-join grows QUADRATICALLY — at 2M vectors the 8-bit
# tables produced ~3e10 candidate pairs and the pair query blew the
# scale gate's slice budget. _nd_bits() widens each band to the
# smallest b with N <= ND_TARGET_BUCKET * 2^b, which pins expected
# occupancy at ~ND_TARGET_BUCKET and makes TOTAL candidates grow
# LINEARLY (~N * ND_TARGET_BUCKET * ND_BANDS / 2). Plane layout is
# prefix-stable: band k owns the fixed ND_MAXBITS-plane slice
# [k*ND_MAXBITS, (k+1)*ND_MAXBITS) and uses its first b planes, so the
# SQL twin can truncate a static full-width signature with substr()
# driven by a count(*) scalar — bit-identical to the Spark prefix.
# Recall trades gently: a 0.99-cosine pair matches one 13-bit band w.p.
# 0.955^13 ~ 0.55, any of 4 bands w.p. ~0.96 (vs 0.99 at 8 bits); at
# N > ND_TARGET_BUCKET * 2^ND_MAXBITS (~16.7M vectors) bits saturate —
# beyond that, raise ND_MAXBITS (the Spark side is unconstrained; the
# cap exists so the DuckDB oracle's static SQL stays bounded).
ND_BANDS = 4
ND_BITS = 8       # minimum band width (ladder floor)
ND_MAXBITS = 16   # band plane-slice width / ladder cap
ND_TARGET_BUCKET = 64  # expected bucket occupancy the ladder holds


def _nd_bits(n_vectors: int) -> int:
    """Smallest band width (>= ND_BITS, <= ND_MAXBITS) holding the
    expected bucket occupancy at ~ND_TARGET_BUCKET. Pure-integer ladder
    (no float log2 — engines' libm could disagree at a boundary)."""
    b, cap = ND_BITS, ND_TARGET_BUCKET << ND_BITS
    while n_vectors > cap and b < ND_MAXBITS:
        b += 1
        cap <<= 1
    return b


def _nd_bits_sql(n_expr: str) -> str:
    """DuckDB twin of _nd_bits: the same integer ladder as one CASE."""
    legs = " ".join(
        f"WHEN ({n_expr}) <= {ND_TARGET_BUCKET << b} THEN {b}"
        for b in range(ND_BITS, ND_MAXBITS))
    return f"(CASE {legs} ELSE {ND_MAXBITS} END)"


def _planes(n: int = N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — reproducible
    from public code alone, identical literals on both engines."""
    planes = []
    for p in range(n):
        row = []
        for d in range(DIM):
            h = hashlib.md5(f"plane{p}_{d}".encode()).hexdigest()
            row.append(round(int(h[:8], 16) / 0xFFFFFFFF - 0.5, 6))
        planes.append(row)
    return planes


def _dot_sql(a: str, b: str) -> str:
    """Explicit left-associated dot product (1-based indexing)."""
    return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(1, DIM + 1))


def _plane_dot_sql(e: str, plane: list[float]) -> str:
    return " + ".join(f"{e}[{i}] * ({plane[i - 1]!r})" for i in range(1, DIM + 1))


def _spark_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    df = emb.select("vec_id", e.alias("e"))
    # norm via the same left-associated sum as the SQL twin (0-based here)
    return df.select("vec_id", "e", F.sqrt(_spark_dot("e", "e")).alias("nrm"))


# The normalized vector relation feeds every similarity query (brute, LSH,
# near-dup, IVF train/assign/probe, recall) — materialize it once per
# session instead of letting each query (and each IVF phase) re-derive
# cast+norm from the scan, or leak a per-invocation persist. At 100 TB
# this is the persisted "embedding table + norms" any resident vector
# engine keeps.
_VECS_CACHE = SessionCache()


def _spark_vectors_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        # Lay the resident vector relation out at cluster parallelism:
        # the source parquet's split count (a writer artifact — the x10
        # bench corpus is coalesce(4)) would otherwise cap EVERY
        # downstream scan — IVF training assignments, PQ encode, probe
        # scoring — at that many tasks (measured: 4 of 32 cores busy,
        # ~8x the IVF build time). Values are partition-order-
        # independent everywhere (fixed-point sums, per-vector argmax),
        # so the layout is free to change.
        par = spark.sparkContext.defaultParallelism
        return materialize(_spark_vectors(spark, sf_dir).repartition(par))

    key = SessionCache.key(spark, sf_dir,
                           version=table_fingerprint(sf_dir, "embeddings"))
    return _VECS_CACHE.cached(key, build)


def _dot_str(a: str, b: str) -> str:
    """0-based left-associated dot product string for Spark F.expr."""
    return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(DIM))


def _spark_dot(a: str, b: str):
    """Left-associated dot product as ONE parsed expression. Building the
    128-term chain via Column operators costs ~256 py4j round-trips PER
    DOT PRODUCT (measured: multi-second driver-side plan construction for
    the IVF query, which embeds five of them); a single F.expr string is
    one call and the SQL parser folds `+` left-associatively — the exact
    same tree, so cross-engine bit-identity is unchanged. No literals
    appear, so no Spark-vs-DuckDB literal-typing divergence."""
    return F.expr(_dot_str(a, b))


def _sig_cases(e: str, planes: list[list[float]]) -> str:
    """Sign-bit CASE list for F.expr. Plane literals are
    CAST(<repr> AS DOUBLE): correctly-rounded to the same double that
    F.lit(python_float) and the DuckDB oracle's literal produce, so
    bucket assignment is bit-identical cross-engine."""
    return ", ".join(
        "CASE WHEN ("
        + " + ".join(f"{e}[{i}] * CAST({p[i]!r} AS DOUBLE)" for i in range(DIM))
        + ") >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )


def _bucket_expr(e: str):
    """The ANN query path's single 2^N_PLANES-bucket signature as ONE
    parsed expression (the Column-operator equivalent costs ~1000 py4j
    round-trips)."""
    return F.expr(f"concat({_sig_cases(e, _planes())})")


def _nd_bands_expr(e: str, bits: int = ND_BITS):
    """The banded near-dup signature as array<string>: ND_BANDS strings
    of ``bits`` sign bits. Band k uses the first ``bits`` planes of its
    fixed ND_MAXBITS-wide slice (prefix layout — the SQL twin truncates
    the full-width band with substr to the same prefix). Each band is
    built DIRECTLY from its own plane slice. (Slicing one concatenated
    signature with substring looks equivalent, but projection collapse
    inlines the full plane chain into every slice — a 4x expression
    blowup that, duplicated again across both join sides of the
    streaming twin, OOMed codegen.)"""
    planes = _planes(ND_BANDS * ND_MAXBITS)
    return F.array(*[
        F.expr(f"concat({_sig_cases(e, planes[k * ND_MAXBITS:k * ND_MAXBITS + bits])})")
        for k in range(ND_BANDS)
    ])


def _corpus_nd_bits(spark: SparkSession, sf_dir: str) -> int:
    """Band width for a corpus dir: the _nd_bits ladder over the cached
    vector relation's count (the count the SQL twin's scalar subquery
    reproduces)."""
    return _nd_bits(_spark_vectors_cached(spark, sf_dir).count())


def _nd_band_sql(e: str, k: int) -> str:
    """DuckDB twin of one FULL-width (ND_MAXBITS) band: identical plane
    literals, 1-based array indexing. Callers truncate with
    substr(..., 1, bits) to the corpus-adaptive prefix."""
    planes = _planes(ND_BANDS * ND_MAXBITS)
    return " || ".join(
        f"CASE WHEN ({_plane_dot_sql(e, planes[p])}) >= 0 "
        "THEN '1' ELSE '0' END"
        for p in range(k * ND_MAXBITS, (k + 1) * ND_MAXBITS)
    )


def _topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: |Q| queries x N corpus, rank by score.
    The broadcast of the small query side keeps this a map-side join."""
    from pyspark.sql import Window

    v = _spark_vectors_cached(spark, sf_dir)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = v.select(F.col("vec_id").alias("match_id"), F.col("e").alias("ce"),
                 F.col("nrm").alias("cn"))
    joined = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("match_id"))
    score = _spark_dot("qe", "ce") / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("match_id")
    )
    return (
        joined.select("query_id", "match_id", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "match_id", "rank",
                (F.floor(F.col("score") * 1e6 + F.lit(0.5)) / 1e6).alias("score"))
    )


def _topk_oracle() -> str:
    return f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
n AS (
    SELECT vec_id, e, sqrt({_dot_sql('e', 'e')}) AS nrm FROM v
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           ({_dot_sql('q.e', 'c.e')}) / (q.nrm * c.nrm) AS score
    FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
ranked AS (
    SELECT query_id, match_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, match_id) AS rank
    FROM scored
)
SELECT query_id, match_id, rank, floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
FROM ranked WHERE rank <= {TOP_K}
""".strip()


def _topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: sign-of-hyperplane-dot bucket key, candidates =
    bucket-mates only. The scale path: one shuffle on (bucket), no |Q|xN
    blowup; recall traded for cost, measured against the brute-force
    baseline."""
    from pyspark.sql import Window

    v = _spark_vectors_cached(spark, sf_dir)
    v = v.select("vec_id", "e", "nrm", _bucket_expr("e").alias("bucket"))
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("nrm").alias("qn"), "bucket",
    )
    c = v.select(F.col("vec_id").alias("match_id"), F.col("e").alias("ce"),
                 F.col("nrm").alias("cn"), "bucket")
    joined = q.join(c, "bucket").filter(F.col("query_id") != F.col("match_id"))
    score = _spark_dot("qe", "ce") / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("match_id")
    )
    return (
        joined.select("query_id", "match_id", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "match_id", "rank",
                (F.floor(F.col("score") * 1e6 + F.lit(0.5)) / 1e6).alias("score"))
    )


def _topk_lsh_oracle() -> str:
    planes = _planes()
    bits = " || ".join(
        f"CASE WHEN ({_plane_dot_sql('e', planes[p])}) >= 0 THEN '1' ELSE '0' END"
        for p in range(N_PLANES)
    )
    return f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
n AS (
    SELECT vec_id, e, sqrt({_dot_sql('e', 'e')}) AS nrm, {bits} AS bucket FROM v
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           ({_dot_sql('q.e', 'c.e')}) / (q.nrm * c.nrm) AS score
    FROM n q JOIN n c ON q.bucket = c.bucket
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
ranked AS (
    SELECT query_id, match_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, match_id) AS rank
    FROM scored
)
SELECT query_id, match_id, rank, floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
FROM ranked WHERE rank <= {TOP_K}
""".strip()


def _neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= 0.99) via BANDED LSH —
    the embedding-space analogue of MinHash band-dedup (see the
    ND_BANDS/ND_BITS derivation): ND_BANDS equi-joins on ND_BITS-bit
    sign slices of one 32-plane signature, realized as ONE shuffle of
    the band-exploded relation. Exactly-once pair emission without a
    distinct shuffle: a pair that collides in several bands is kept
    only at its FIRST matching band (both sides carry the full band
    array, so the min-matching-band test is a per-row expression — the
    same trick keeps the streaming twin stateless). Plan: explode to
    ND_BANDS rows/vector, hash-join on (band, bits), per-row min-band
    filter, exact cosine verify on candidates only."""
    v = _spark_vectors_cached(spark, sf_dir)
    bits = _nd_bits(v.count())  # corpus-adaptive width (constants note)
    # SLIM band join (r12 scale find #2): the equi-join output is the
    # candidate fan-out — carrying the 64-double embeddings through it
    # multiplied the shuffle by ~1KB/row (82 GB at 2M vectors). The join
    # moves only (vec_id, band strings); the verify re-attaches vectors
    # by id afterwards — two hash joins whose build side is the corpus
    # relation itself, not the candidate blow-up.
    vb = v.select("vec_id", _nd_bands_expr("e", bits).alias("bands"))
    ex = vb.select("vec_id", "bands",
                   F.posexplode("bands").alias("band", "bits"))
    a = ex.select(F.col("vec_id").alias("vec_a"),
                  F.col("bands").alias("abands"), "band", "bits")
    b = ex.select(F.col("vec_id").alias("vec_b"),
                  F.col("bands").alias("bbands"), "band", "bits")
    first_match = F.expr(
        "array_position(zip_with(abands, bbands, (x, y) -> x = y), true) - 1")
    cand = (a.join(b, ["band", "bits"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .filter(F.col("band") == first_match)
            .select("vec_a", "vec_b"))
    ea = v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
                  F.col("nrm").alias("na"))
    eb = v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
                  F.col("nrm").alias("nb"))
    joined = cand.join(ea, "vec_a").join(eb, "vec_b")
    score = _spark_dot("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        joined.select("vec_a", "vec_b", score.alias("score"))
        .filter(F.col("score") >= 0.99)
        .select("vec_a", "vec_b",
                (F.floor(F.col("score") * 1e6 + F.lit(0.5)) / 1e6).alias("score"))
    )


def _neardup_ctes() -> str:
    """Shared DuckDB CTE chain ending in `pairs(vec_a, vec_b, score)` —
    the SQL twin of ``_neardup_cosine``'s banded pair derivation: the
    same 32-plane signature sliced into band columns, one equi-join per
    band with the literal "no earlier band matched" conjunction (the
    min-matching-band rule), UNION ALL (disjoint by construction), then
    the exact cosine on candidates. Reused by the pair query and the
    SemDeDup keep-list / CC oracles."""
    full_cols = ", ".join(
        f"{_nd_band_sql('e', k)} AS f{k}" for k in range(ND_BANDS))
    band_cols = ", ".join(
        f"substr(f{k}, 1, (SELECT bits FROM ndb)) AS b{k}"
        for k in range(ND_BANDS))
    unions = []
    for k in range(ND_BANDS):
        cond = " AND ".join(
            [f"a.b{k} = b.b{k}"]
            + [f"a.b{j} <> b.b{j}" for j in range(k)]
            + ["a.vec_id < b.vec_id"])
        unions.append(
            "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b\n"
            f"    FROM n a JOIN n b ON {cond}")
    cand = "\n    UNION ALL\n    ".join(unions)
    # w/n/pairs are MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and n appears twice in EACH band's self-join (2 x
    # ND_BANDS copies), w twice more in the pair scoring — inlined,
    # every copy recomputes the 32 plane dots over the whole corpus
    # with its own operator state (measured ~40 GB temp spill and a
    # 1831s wall for semdedup_cc_clusters at x100-of-sf0.1, whose
    # materialized w is ~150 MB).
    return f"""v AS MATERIALIZED (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
ndb AS MATERIALIZED (
    -- the corpus-adaptive band width (integer ladder, _nd_bits twin)
    SELECT {_nd_bits_sql('count(*)')} AS bits FROM v
),
w AS MATERIALIZED (
    SELECT vec_id, e, sqrt({_dot_sql('e', 'e')}) AS nrm, {full_cols} FROM v
),
n AS MATERIALIZED (
    -- slim join relation: ids + band prefixes only (the Spark twin's
    -- candidate join carries no vectors either)
    SELECT vec_id, {band_cols} FROM w
),
pairs AS MATERIALIZED (
    SELECT c.vec_a, c.vec_b,
           ({_dot_sql('va.e', 'vb.e')}) / (va.nrm * vb.nrm) AS score
    FROM ({cand}) c
    JOIN w va ON va.vec_id = c.vec_a
    JOIN w vb ON vb.vec_id = c.vec_b
)"""


def _neardup_oracle() -> str:
    return f"""
WITH {_neardup_ctes()}
SELECT vec_a, vec_b, floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
FROM pairs WHERE score >= 0.99
""".strip()


def _semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-level dedup keep-list: a vector is
    DROPPED when a lower-id banded-LSH candidate is cosine-similar
    (>= 0.99); the displacing representative is reported. The min-id
    representative rule replaces the paper's greedy scan with one
    relational pass — deterministic, rerun-stable, and at 100 TB it is
    the same bucketed join as the pair query plus a tiny aggregation
    (no iteration, no driver loop).

    Documented deviation from the sequential greedy: on a chain
    0~1, 1~2 (0 and 2 not paired) the greedy would re-keep 2 because
    its only neighbor 1 was dropped; this rule drops 2 too, and its
    rep_id (1) may itself be a dropped vector. At the 0.99 threshold
    chains are near-transitive so the difference is marginal, and
    over-dropping is the safe direction for dedup; consumers needing
    transitive clusters with surviving representatives should run the
    pair set through the connected-components pass (dedup_cc_clusters
    pattern) instead of chasing rep_id chains."""
    v = _spark_vectors_cached(spark, sf_dir).select("vec_id")
    pairs = _neardup_cosine(spark, sf_dir)
    displaced = (
        pairs.groupBy("vec_b").agg(F.min("vec_a").alias("rep_id"))
        .withColumnsRenamed({"vec_b": "vec_id"})
    )
    return (
        v.join(displaced, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("rep_id").isNull(), 1).otherwise(0).alias("kept"),
            "rep_id",
        )
    )


def _semdedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive embedding-duplicate clusters: connected components
    over the cosine near-dup pair graph (A~B, B~C => {A,B,C} one
    cluster) — the consumer `_semdedup_keep`'s docstring points chained
    near-dups at. Reuses the text pack's min-label-propagation loop
    (ext/dedup.py#_cc_loop: Pregel-style rounds over the pair graph,
    which is orders of magnitude smaller than the corpus), so the
    embedding and document dedup stacks share one distributed CC
    implementation. Output: (vec_id, cluster_id = min reachable vec_id,
    n_members)."""
    from pandas_ta_spark.ext.dedup import _cc_loop

    # materialize the pair graph BEFORE the loop: _cc_loop references its
    # input once per round, and re-expanding the banded-signature plan
    # (thousands of plane-dot terms at adaptive widths) each round both
    # recomputes the 100x-costlier join and, at x100-replica pair
    # volumes, grew the generated code past janino's method limit inside
    # AQE stage materialization (hard job failure, not a codegen
    # fallback — r12 scale find #3)
    pairs = materialize(_neardup_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")))
    return materialize(
        _cc_loop(pairs).withColumnsRenamed({"doc_id": "vec_id"}))


def _semdedup_cc_oracle() -> str:
    """Min-label CC over the near-dup pair graph — the same static
    hash-to-min + pointer-doubling chain as the text CC oracle
    (ext/dedup.py#cc_label_rounds_sql; the recursive transitive closure
    it replaces was Sum|C|^2 rows and OOM-killed the x100-of-sf0.1 gate
    when replica label clusters merged into ~25k-member components)."""
    from pandas_ta_spark.ext.dedup import cc_label_rounds_sql

    return f"""
WITH {_neardup_ctes()},
edges AS MATERIALIZED (
    SELECT vec_a AS s, vec_b AS t FROM pairs WHERE score >= 0.99
    UNION
    SELECT vec_b AS s, vec_a AS t FROM pairs WHERE score >= 0.99
),
{cc_label_rounds_sql("vec_id")},
members AS (SELECT cluster_id, count(*) AS n_members FROM lab GROUP BY cluster_id)
SELECT l.vec_id, l.cluster_id, m.n_members
FROM lab l JOIN members m ON m.cluster_id = l.cluster_id
""".strip()


def _semdedup_keep_oracle() -> str:
    return f"""
WITH {_neardup_ctes()},
disp AS (
    SELECT vec_b AS vec_id, min(vec_a) AS rep_id
    FROM pairs WHERE score >= 0.99 GROUP BY 1
)
SELECT x.vec_id,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept,
       d.rep_id
FROM v x LEFT JOIN disp d ON d.vec_id = x.vec_id
""".strip()


# ------------------------------------------------------------- IVF ANN ----

K_CENTROIDS = 8
NPROBE = 2
# Lloyd refinement rounds for the coarse quantizer (VERDICT r6 ask #4):
# each round re-assigns a deterministic 1-in-TRAIN_MOD training sample
# and recomputes fixed-point means; only the final inverted-file
# assignment scans the full corpus. Measured mean recall@5 vs brute
# force at sf0.01, NPROBE=2 unchanged: 1 full-corpus round (the r6
# state) -> 0.42; full-corpus 3 rounds -> 0.44; SAMPLED 3 rounds ->
# 0.48 (sampling decorrelates the means from the dup-heavy corpus
# mass). Recall here is structurally capped by NPROBE/K = 2/8, not by
# training: tune NPROBE for recall, LLOYD_ITERS for list balance.
# The full (K, NPROBE) recall-latency curve is MEASURED by
# tools/ivf_curve.py (r8; table in README): at sf0.1 the shipped
# K=8/NPROBE=2 gives recall@5 = 0.64 at 25% corpus scanned; recall
# >= 0.8 costs ~2x the scan (NPROBE=6-8, or K=16/NPROBE=8 with a
# larger training sample). Probe wall-time at gate scale is overhead-
# bound, so frac-scanned = NPROBE/K is the cost axis that survives
# scale-up.
LLOYD_ITERS = 3
TRAIN_MOD = 10  # 1-in-10 training sample: >= 40*K points at gate scale
TRAIN_CAP = 4096  # hard bound on collected training vectors (id < MOD*CAP)


# The trained IVF index (K-row centroid table + corpus-sized inverted
# file) is a BUILD artifact, not per-query work: a resident ANN engine
# trains once and serves every probe from the same lists — re-deriving
# the Lloyd step per query would be like rebuilding a B-tree per lookup.
# Cached per session like _VECS_CACHE; training is deterministic (fixed
# seeds + exact fixed-point sums), so cached and fresh indexes are
# bit-identical and every oracle comparison still holds. First build
# per session pays the full cost.
_IVF_CACHE = SessionCache()


def _train_centroids_numpy(rows) -> list[tuple]:
    """LLOYD_ITERS k-means rounds over the collected training sample,
    executed driver-side in numpy with arithmetic that is BIT-IDENTICAL
    to the DuckDB oracle's SQL:

    - dot products accumulate LEFT-ASSOCIATED per dimension (a Python
      loop of vectorized `acc = acc + E[:, d] * c[d]` steps — np.dot/
      np.sum use pairwise summation and would diverge in ulps);
    - assignment argmax ties resolve to the smallest centroid_id
      (np.argmax first-max == row_number ORDER BY score DESC, cid);
    - per-dimension means are exact int64 sums of floor(e*1e6+0.5)
      quantities, then (CAST(s AS DOUBLE) / 1e6) / cnt in that order;
    - empty clusters drop out (GROUP BY semantics).

    Returns [(centroid_id, ce: list[float], cn: float), ...]."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r["vec_id"])
    E = np.array([r["e"] for r in rows], dtype=np.float64)
    nrm = np.array([r["nrm"] for r in rows], dtype=np.float64)
    seed_ids = [r["vec_id"] for r in rows
                if N_QUERIES <= r["vec_id"] < N_QUERIES + K_CENTROIDS]
    # zero-norm SEEDS are dropped like zero-norm means (see the Lloyd
    # loop below): a NaN score column would capture numpy's argmax
    # while SQL's NULL column never wins
    cents = [(r["vec_id"] - N_QUERIES, np.array(r["e"]), float(r["nrm"]))
             for r in rows
             if N_QUERIES <= r["vec_id"] < N_QUERIES + K_CENTROIDS
             and float(r["nrm"]) > 0]
    assert seed_ids, "seed vectors missing from training collect"
    # ADVICE r11: assert the FILTERED list too — if every seed vector is
    # zero-norm, the numpy Lloyd argmax would raise an opaque ValueError
    # over zero candidate columns while the SQL twin silently returned an
    # empty relation. Both engines must fail loudly and identically, so
    # the degenerate corpus is rejected here with a named cause.
    assert cents, (
        f"all {len(seed_ids)} IVF seed vectors are zero-norm — the "
        f"corpus has no usable centroid seeds (every candidate filtered "
        f"by the nrm > 0 guard); cosine clustering is undefined on an "
        f"all-degenerate seed set")
    train_mask = np.array([r["vec_id"] % TRAIN_MOD == 0 for r in rows])
    # ADVICE r7: a corpus so tiny/sparsely-id'd that no vec_id hits the
    # TRAIN_MOD stride would otherwise surface as an opaque np.argmax
    # ValueError over a zero-row score matrix deep in the Lloyd loop.
    assert train_mask.any(), (
        f"k-means training sample is empty: no collected vec_id "
        f"satisfies vec_id % {TRAIN_MOD} == 0 ({len(rows)} rows "
        f"collected) — corpus too small or ids too sparse for the "
        f"deterministic training stride")
    Et, nt = E[train_mask], nrm[train_mask]
    q6 = np.floor(Et * 1e6 + 0.5).astype(np.int64)
    for _ in range(LLOYD_ITERS):
        scores = np.empty((len(Et), len(cents)))
        for j, (_, ce, cn) in enumerate(cents):
            acc = np.zeros(len(Et))
            for d in range(DIM):
                acc = acc + Et[:, d] * ce[d]
            scores[:, j] = acc / (nt * cn)
        a = np.argmax(scores, axis=1)  # first max = smallest index on ties
        nxt = []
        for j, (cid, _, _) in enumerate(cents):
            m = a == j
            cnt = int(m.sum())
            if cnt == 0:
                continue  # empty cluster drops out, as in GROUP BY
            s = q6[m].sum(axis=0, dtype=np.int64)
            if not s.any():
                # ZERO-NORM centroid (all member coords quantize to 0 —
                # e.g. a cluster of 1e-8-magnitude vectors): cosine
                # against it is x/0, which numpy scores inf (the
                # centroid then captures EVERYTHING via argmax) while
                # SQL scores NULL (it never wins) — the engines trained
                # entirely different clusterings (fuzz gate, extreme
                # embeddings). Unscorable -> dropped, like an empty
                # cluster; the oracle applies the same cn > 0 filter.
                continue
            ce = s.astype(np.float64) / 1e6 / float(cnt)
            cn = 0.0
            for d in range(DIM):
                cn = cn + ce[d] * ce[d]
            nxt.append((cid, ce, float(np.sqrt(cn))))
        cents = nxt
    return [(cid, [float(x) for x in ce], cn) for cid, ce, cn in cents]


def assign_vectors(src: DataFrame, cent: DataFrame) -> DataFrame:
    """Coarse-quantizer assignment of (vec_id, e, nrm) rows to the K
    trained centroids — the shared primitive of the inverted-file build
    AND online vector ingestion (`streaming.ann.stream_vector_ingest`,
    the FAISS ``add()`` path).

    argmax as max(struct(score, -centroid_id, centroid_id)): struct
    comparison is lexicographic, so ties on score resolve to the
    SMALLEST centroid_id — the same selection as the SQL twin's
    row_number(ORDER BY score DESC, centroid_id). A hash aggregate with
    map-side partials: no sort, no window shuffle — the shape that
    survives a 100 TB corpus."""
    scored = src.crossJoin(F.broadcast(cent)).select(
        "vec_id", "centroid_id",
        (_spark_dot("e", "ce") / (F.col("nrm") * F.col("cn"))).alias("score"),
    )
    best = F.max(F.struct(
        F.col("score"), (-F.col("centroid_id")).alias("neg"),
        F.col("centroid_id").alias("cid"),
    )).alias("b")
    return (
        scored.groupBy("vec_id").agg(best)
        .select("vec_id", F.col("b.cid").alias("centroid_id"))
    )


def _ivf_lists(spark: SparkSession, sf_dir: str):
    """Coarse-quantizer training + inverted-file build, shared by the ANN
    query (`_topk_ivf`) and the cluster-profile telemetry. Returns
    (v, centn, lists) — the normalized vectors, the K-row trained
    centroid table (materialized), and the (vec_id, centroid_id) file.

    Training is the FAISS architecture: fit the K-centroid coarse
    quantizer on a BOUNDED sample at the driver (one collect of at most
    TRAIN_CAP vectors — build-time, one-time, ~2 MB; the same class of
    bounded driver step as the repo's validation collects), then
    broadcast the K centroids for the distributed full-corpus
    assignment. Running the Lloyd rounds as Spark jobs was measured at
    2-5 s of pure job-launch + codegen overhead PER ROUND for
    milliseconds of sample-scale arithmetic — the driver fit removes
    that entirely while the corpus-sized work (inverted-file build,
    probes) stays fully distributed.

    Cross-engine determinism of the TRAINED centroids: the numpy fit
    mirrors the DuckDB CTE chain op-for-op (left-associated dots, exact
    BIGINT fixed-point means, first-max tie-break) — see
    `_train_centroids_numpy`; the driver's oracle gate verifies the
    composed result exactly."""
    v = _spark_vectors_cached(spark, sf_dir)
    key = SessionCache.key(spark, sf_dir,
                           version=table_fingerprint(sf_dir, "embeddings"))
    hit = _IVF_CACHE.get(key)
    if hit is not None:
        return (v, *hit)

    # ONE bounded collect: the 1-in-TRAIN_MOD training sample (capped at
    # TRAIN_CAP rows by id — FAISS guidance is ~40 x K training points,
    # the cap keeps the collect O(1) at any corpus size) plus the K seed
    # vectors. vec_id % / < are exact in both engines, so the sample is
    # bit-identical cross-engine.
    sample = (
        v.filter(
            ((F.col("vec_id") % TRAIN_MOD == 0)
             & (F.col("vec_id") < TRAIN_MOD * TRAIN_CAP))
            | ((F.col("vec_id") >= N_QUERIES)
               & (F.col("vec_id") < N_QUERIES + K_CENTROIDS))
        )
        .select("vec_id", "e", "nrm")
        .collect()
    )
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    cent_schema = StructType([
        StructField("centroid_id", LongType(), False),
        StructField("ce", ArrayType(DoubleType(), False), False),
        StructField("cn", DoubleType(), False),
    ])
    # NOT materialize()d: the K-row centroid table is createDataFrame
    # over DRIVER-LOCAL numpy output — its "lineage" is the local list
    # itself (a LocalTableScan), so the eager checkpoint bought nothing
    # and cost a whole job (profiled at 1.6s cold / ~0.4s hot of the
    # x10 build-net regression, tools/profile_ivf.py). Downstream uses
    # broadcast it; re-serializing 16 local rows per use is free.
    centn = spark.createDataFrame(
        _train_centroids_numpy(sample), cent_schema)
    # the inverted file is materialized too — (vec_id, centroid_id) longs,
    # the on-disk artifact a real IVF deployment persists next to the
    # centroids — so probes scan lists instead of re-running assignment
    lists = materialize(assign_vectors(v, centn))
    _IVF_CACHE.put(key, (centn, lists))
    return v, centn, lists


def _ivf_probes(v, centn):
    """Per-query NPROBE nearest centroids — shared by _topk_ivf and
    _topk_ivfpq so the tie-break (score DESC, centroid_id) cannot
    drift between the two ANN variants or their common oracle CTE."""
    from pyspark.sql import Window

    qp = v.filter(F.col("vec_id") < N_QUERIES).crossJoin(F.broadcast(centn)).select(
        F.col("vec_id").alias("query_id"), "centroid_id",
        (_spark_dot("e", "ce") / (F.col("nrm") * F.col("cn"))).alias("score"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "centroid_id")
    return (
        qp.withColumn("prk", F.row_number().over(wp))
        .filter(F.col("prk") <= NPROBE)
        .select("query_id", "centroid_id")
    )


def _pq_lut(sub, cb):
    """Per-query ADC lookup table (query_id, m, code, p6): subvector x
    centroid dots quantized to 1e-6 BIGINTs — shared by _topk_pq and
    _topk_ivfpq so the fixed-point rounding cannot drift."""
    pdot = F.lit(0.0)
    for d in range(SUB_DIM):
        pdot = pdot + F.col("sv")[d] * F.col("cv")[d]
    return (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cb), "m")
        .select(F.col("vec_id").alias("query_id"), "m", "code",
                F.floor(pdot * 1e6 + F.lit(0.5)).cast("long").alias("p6"))
    )


def _topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: probe only the NPROBE nearest inverted
    lists per query (training/assignment shared via `_ivf_lists`). The
    third ANN regime next to brute force (exact, |Q|xN) and LSH (hash
    buckets): scan cost drops to ~NPROBE/K of the corpus while recall
    stays tunable via NPROBE.

    100 TB shape: centroids are K rows — every assignment join is a
    broadcast; the per-vector argmax here is a row_number window (shared
    with the SQL twin); at scale you'd swap it for max_by(struct) to get a
    map-side-combinable aggregation with no sort.
    """
    from pyspark.sql import Window

    v, centn, lists = _ivf_lists(spark, sf_dir)

    probes = _ivf_probes(v, centn)
    # explicit broadcasts: the checkpoint-backed lists/v relations carry
    # no stats, so static planning would otherwise sort-merge-join on
    # centroid_id — 8 distinct keys, i.e. the whole corpus skewed into 8
    # tasks (measured 2s -> 19s when the hint was missing). probes is
    # |Q| x NPROBE rows and qv |Q| rows — driver-trivial at any scale.
    # cands is |Q| x NPROBE x (N/K) rows: broadcastable because a real
    # IVF deployment sizes K ~ sqrt(N) (lists stay ~sqrt(N) rows — the
    # standard FAISS guidance); for corpus sizes where |Q| x NPROBE x
    # sqrt(N) outgrows the driver, drop this hint and let the join
    # shuffle cands (both sides are vec_id-clustered, so only the
    # candidate side moves).
    cands = (
        F.broadcast(probes).join(lists, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("match_id"))
    )
    qv = v.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
                  F.col("nrm").alias("qn"))
    mv = v.select(F.col("vec_id").alias("match_id"), F.col("e").alias("me"),
                  F.col("nrm").alias("mn"))
    scored = (
        F.broadcast(cands).join(mv, "match_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "match_id",
            (_spark_dot("qe", "me") / (F.col("qn") * F.col("mn"))).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "match_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "match_id", "rank",
                (F.floor(F.col("score") * 1e6 + F.lit(0.5)) / 1e6).alias("score"))
    )


def _ivf_ctes() -> str:
    """Shared DuckDB CTE chain for IVF training + assignment, ending at
    `lists(vec_id, centroid_id)` and `centn` (the final trained
    centroids) — the SQL twin of `_ivf_lists`, including its LLOYD_ITERS
    refinement rounds. Reused by the ANN oracle and the cluster-profile
    oracle."""
    q6 = ", ".join(
        f"CAST(floor(e[{i}] * 1000000.0 + 0.5) AS BIGINT) AS q{i}"
        for i in range(1, DIM + 1)
    )
    sums = ", ".join(f"sum(q{i}) AS s{i}" for i in range(1, DIM + 1))
    comps = ", ".join(
        f"CAST(s{i} AS DOUBLE) / 1000000.0 / CAST(cnt AS DOUBLE)"
        for i in range(1, DIM + 1)
    )

    def assign_ctes(i: int, cent_rel: str, src_rel: str = "n") -> str:
        """Score + argmax assignment of `src_rel` to `cent_rel`."""
        return f"""sc{i} AS (
    SELECT x.vec_id, c.centroid_id,
           ({_dot_sql('x.e', 'c.ce')}) / (x.nrm * c.cn) AS score
    FROM {src_rel} x CROSS JOIN {cent_rel} c
),
a{i} AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, centroid_id) AS rk
        FROM sc{i}) WHERE rk = 1
)"""

    parts = [f"""v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
n AS (
    SELECT vec_id, e, sqrt({_dot_sql('e', 'e')}) AS nrm FROM v
),
ns AS (
    SELECT * FROM n
    WHERE vec_id % {TRAIN_MOD} = 0 AND vec_id < {TRAIN_MOD * TRAIN_CAP}
),
cn0 AS (
    -- cn > 0: zero-norm seeds are unscorable (x/0) and dropped, the
    -- twin of the numpy trainer's seed guard
    SELECT vec_id - {N_QUERIES} AS centroid_id, e AS ce, nrm AS cn
    FROM n WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + K_CENTROIDS}
      AND nrm > 0
)"""]
    cent_rel = "cn0"
    for i in range(LLOYD_ITERS):
        parts.append(assign_ctes(i, cent_rel, "ns"))
        parts.append(f"""q6_{i} AS (
    SELECT a{i}.centroid_id, {q6}
    FROM a{i} JOIN ns USING (vec_id)
),
cm{i} AS (
    SELECT centroid_id, {sums}, count(*) AS cnt FROM q6_{i} GROUP BY centroid_id
),
ce{i} AS (
    SELECT centroid_id, [{comps}] AS ce FROM cm{i}
),
cn{i + 1} AS (
    -- cn > 0: a zero-norm mean (all member coords quantized to 0) is
    -- unscorable and dropped, like an empty cluster — the twin of the
    -- numpy trainer's `not s.any()` guard
    SELECT * FROM (
        SELECT centroid_id, ce, sqrt({_dot_sql('ce', 'ce')}) AS cn
        FROM ce{i}) WHERE cn > 0
)""")
        cent_rel = f"cn{i + 1}"
    parts.append(f"centn AS (SELECT * FROM {cent_rel})")
    parts.append(assign_ctes(LLOYD_ITERS, "centn"))
    parts.append(f"lists AS (SELECT * FROM a{LLOYD_ITERS})")
    return ",\n".join(parts)


def _topk_ivf_oracle() -> str:
    return f"""
WITH {_ivf_ctes()},
qp AS (
    SELECT q.vec_id AS query_id, c.centroid_id,
           ({_dot_sql('q.e', 'c.ce')}) / (q.nrm * c.cn) AS score
    FROM n q CROSS JOIN centn c WHERE q.vec_id < {N_QUERIES}
),
probes AS (
    SELECT query_id, centroid_id FROM (
        SELECT query_id, centroid_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, centroid_id) AS prk
        FROM qp) WHERE prk <= {NPROBE}
),
cands AS (
    SELECT p.query_id, l.vec_id AS match_id
    FROM probes p JOIN lists l USING (centroid_id)
    WHERE l.vec_id <> p.query_id
),
scored AS (
    SELECT c.query_id, c.match_id,
           ({_dot_sql('q.e', 'm.e')}) / (q.nrm * m.nrm) AS score
    FROM cands c
    JOIN n q ON q.vec_id = c.query_id
    JOIN n m ON m.vec_id = c.match_id
),
ranked AS (
    SELECT query_id, match_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, match_id) AS rank
    FROM scored
)
SELECT query_id, match_id, rank, floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
FROM ranked WHERE rank <= {TOP_K}
""".strip()


def _ivf_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-file health telemetry: per trained centroid, list size,
    share of the corpus, label diversity, and the dominant label — the
    dashboard an ANN deployment watches for list imbalance (one hot list
    = one hot partition at probe time) and for cluster/label coherence.

    Reuses the shared `_ivf_lists` build; the rollup is one corpus-sized
    groupBy on (centroid_id, label) with map-side partials, a K-row
    second-level aggregation, and a 1-row total broadcast. The dominant
    label uses the same max(struct) argmax as list assignment —
    hash-aggregate, no sort, ties to the smallest label."""
    _, _, lists = _ivf_lists(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    by_label = (
        lists.join(emb, "vec_id")
        .groupBy("centroid_id", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = F.max(F.struct(
        F.col("cnt"), (-F.col("label")).alias("neg"),
        F.col("label").alias("lab"),
    )).alias("b")
    prof = (
        by_label.groupBy("centroid_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_vectors"),
            F.count(F.lit(1)).alias("n_labels"),
            best,
        )
        .select(
            "centroid_id", "n_vectors", "n_labels",
            F.col("b.lab").alias("top_label"),
            F.col("b.cnt").cast("long").alias("top_label_cnt"),
        )
    )
    total = prof.agg(F.sum("n_vectors").alias("n_total"))
    return (
        prof.crossJoin(F.broadcast(total))
        .select(
            "centroid_id", "n_vectors",
            (F.col("n_vectors") / F.col("n_total")).alias("corpus_frac"),
            "n_labels", "top_label", "top_label_cnt",
            (F.col("top_label_cnt") / F.col("n_vectors")).alias("top_label_frac"),
        )
    )


def _ivf_cluster_profile_oracle() -> str:
    return f"""
WITH {_ivf_ctes()},
by_label AS (
    SELECT l.centroid_id, e.label, count(*) AS cnt
    FROM lists l JOIN embeddings e ON e.vec_id = l.vec_id
    GROUP BY 1, 2
),
prof AS (
    SELECT centroid_id,
           CAST(sum(cnt) AS BIGINT) AS n_vectors,
           count(*) AS n_labels,
           max(struct_pack(cnt := cnt, neg := -label, lab := label)) AS b
    FROM by_label GROUP BY centroid_id
),
p AS (
    SELECT centroid_id, n_vectors, n_labels,
           b.lab AS top_label, CAST(b.cnt AS BIGINT) AS top_label_cnt
    FROM prof
),
tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS n_total FROM p)
SELECT centroid_id, n_vectors,
       n_vectors / tot.n_total AS corpus_frac,
       n_labels, top_label, top_label_cnt,
       top_label_cnt / n_vectors AS top_label_frac
FROM p CROSS JOIN tot
""".strip()


# ------------------------------------------------- per-label centroids ----

def _label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components, one row per (label, dim): the
    aggregate statistics pass of an embedding pipeline (cluster summaries,
    drift monitoring, IVF seeding). posexplode -> groupBy(label, dim) is
    map-side combinable and scales with |labels| x DIM output rows no
    matter the corpus size. Components are fixed-point BIGINT sums divided
    once — bit-identical across engines and partitionings."""
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    q = emb.select(
        "label",
        F.posexplode(F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))"
        )).alias("dim", "q"),
    )
    return (
        q.groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("s"))
        .select(
            "label", "dim", "n",
            (F.col("s").cast("double") / F.lit(1e6) / F.col("n").cast("double"))
            .alias("centroid"),
        )
    )


# DuckDB has no WITH ORDINALITY: index via a struct-list transform instead
LABEL_CENTROIDS_SQL = """
WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
q AS (
    SELECT label, u.s.dim AS dim, u.s.q AS q
    FROM v, unnest(list_transform(range(1, len(e) + 1),
                   i -> {'dim': i - 1,
                         'q': CAST(floor(e[i] * 1000000.0 + 0.5) AS BIGINT)})) AS u(s)
)
SELECT label, dim, count(*) AS n,
       CAST(sum(q) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE) AS centroid
FROM q GROUP BY 1, 2
""".strip()


# ---------------------------------------------------------- IVF recall ----

def _ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured ANN quality: per query, recall@k of the IVF index against
    the exact brute-force top-k. The "measure, don't guess" telemetry any
    production ANN deployment runs when tuning NPROBE/K_CENTROIDS — and
    at 100 TB you run it on a sampled query set exactly like this one
    (both sides are the already-oracled operators, composed)."""
    brute = _topk_cosine(spark, sf_dir).select("query_id", "match_id")
    ivf = _topk_ivf(spark, sf_dir).select("query_id", "match_id")
    hits = (
        brute.join(ivf, ["query_id", "match_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0).cast("long"))
    return (
        brute.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id", "k", n_hit.alias("n_hit"),
            (n_hit / F.col("k")).alias("recall"),
        )
    )


def _ivf_recall_oracle() -> str:
    # both standalone oracles embed their own WITH chains; nest them as
    # parenthesized derived tables (legal DuckDB)
    return f"""
SELECT b.query_id, b.k, coalesce(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
       coalesce(h.n_hit, CAST(0 AS BIGINT)) / b.k AS recall
FROM (
    SELECT query_id, count(*) AS k FROM ({_topk_oracle()}) GROUP BY 1
) b
LEFT JOIN (
    SELECT bb.query_id, count(*) AS n_hit
    FROM ({_topk_oracle()}) bb
    JOIN ({_topk_ivf_oracle()}) ii
      ON ii.query_id = bb.query_id AND ii.match_id = bb.match_id
    GROUP BY 1
) h ON h.query_id = b.query_id
""".strip()


def _topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the production ANN composition (FAISS's IndexIVFPQ shape)
    — probe the NPROBE nearest inverted lists, then score ONLY those
    candidates with the PQ lookup table. Scan cost ~NPROBE/K of the
    corpus times M_SUB integer lookups, with no full-dimension vector
    math anywhere in the query path; both index artifacts come from the
    session caches, exactly like a resident engine serving from a loaded
    index. Ranking orders by the exact-integer ADC score (PQ scheme), so
    results are deterministic and the DuckDB twin matches bit-for-bit.
    The cands broadcast relies on K ~ sqrt(N) list sizing (see
    _topk_ivf); past that, un-hint and shuffle the candidate side."""
    from pyspark.sql import Window

    v, centn, lists = _ivf_lists(spark, sf_dir)
    _, sub, cb, codes = _pq_index(spark, sf_dir)
    probes = _ivf_probes(v, centn)
    cands = (
        F.broadcast(probes).join(lists, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("match_id"))
    )
    lut = _pq_lut(sub, cb)
    adc = (
        F.broadcast(cands)
        .join(codes.withColumnRenamed("vec_id", "match_id"), "match_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "match_id")
        .agg(F.sum("p6").alias("score6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score6").desc(), "match_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "match_id", "rank",
                (F.col("score6") / F.lit(1e6)).alias("score"))
    )


def _ivfpq_oracle() -> str:
    return f"""
WITH {_ivf_ctes()},
{_pq_ctes()},
qp AS (
    SELECT q.vec_id AS query_id, c.centroid_id,
           ({_dot_sql('q.e', 'c.ce')}) / (q.nrm * c.cn) AS score
    FROM n q CROSS JOIN centn c WHERE q.vec_id < {N_QUERIES}
),
probes AS (
    SELECT query_id, centroid_id FROM (
        SELECT query_id, centroid_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, centroid_id) AS prk
        FROM qp) WHERE prk <= {NPROBE}
),
cands AS (
    SELECT p.query_id, l.vec_id AS match_id
    FROM probes p JOIN lists l USING (centroid_id)
    WHERE l.vec_id <> p.query_id
),
adc AS (
    SELECT c.query_id, c.match_id, sum(l.p6) AS score6
    FROM cands c
    JOIN pq_codes pc ON pc.vec_id = c.match_id
    JOIN pq_lut l ON l.query_id = c.query_id
                 AND l.m = pc.m AND l.code = pc.code
    GROUP BY 1, 2
)
SELECT query_id, match_id, rank, score6 / 1000000.0 AS score
FROM (
    SELECT query_id, match_id, score6,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score6 DESC, match_id) AS rank
    FROM adc)
WHERE rank <= {TOP_K}
""".strip()


def _pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the PQ-ADC index against exact brute force — the
    compression-loss dashboard (tune M_SUB/K_PQ against it), same
    composed shape as `topk_ivf_recall`."""
    brute = _topk_cosine(spark, sf_dir).select("query_id", "match_id")
    pq = _topk_pq(spark, sf_dir).select("query_id", "match_id")
    hits = (
        brute.join(pq, ["query_id", "match_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0).cast("long"))
    return (
        brute.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id", "k", n_hit.alias("n_hit"),
            (n_hit / F.col("k")).alias("recall"),
        )
    )


def _pq_recall_oracle() -> str:
    return f"""
SELECT b.query_id, b.k, coalesce(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
       coalesce(h.n_hit, CAST(0 AS BIGINT)) / b.k AS recall
FROM (
    SELECT query_id, count(*) AS k FROM ({_topk_oracle()}) GROUP BY 1
) b
LEFT JOIN (
    SELECT bb.query_id, count(*) AS n_hit
    FROM ({_topk_oracle()}) bb
    JOIN ({_pq_oracle()}) pp
      ON pp.query_id = bb.query_id AND pp.match_id = bb.match_id
    GROUP BY 1
) h ON h.query_id = b.query_id
""".strip()


# PQ-ADC shortlist width for the exact-rerank stage. r12 RECALL_x10
# measured raw PQ-ADC ranking at base recall 0.18 (min 0.0) on this
# 64-dim corpus: 8 subspaces x 3-bit codes cannot ORDER the true top-5,
# but they reliably SURFACE it inside a shortlist — so the production
# deployment shape is shortlist + exact rerank, not raw ADC. 100 = 20x
# TOP_K (base recall mean 0.8 / min 0.4 vs raw ADC's 0.18 / 0.0); the
# width is constant in corpus size, so the rerank cost stays
# R_RERANK x |Q| exact dots at any N. r14 widened 100 -> 200 (VERDICT
# r13 ask #9): tools/pq_curve.py measures the shortlist-width/recall
# curve (PQ_CURVE.json) — base mean recall 0.46/0.60/0.80/0.92/1.00 at
# widths 25/50/100/200/400. The 3-bit ADC score ties heavily on the
# 500-vector base corpus and the deterministic match_id tie-break can
# push a true neighbor past a narrow cutoff; 200 lifts base mean to
# 0.92 (min 0.8) while the rerank stays constant-width (2x the dots,
# same asymptotics; x10 replica already saturates at 1.0).
R_RERANK = 200


def _topk_pq_rerank(spark: SparkSession, sf_dir: str,
                    r_rerank: int | None = None) -> DataFrame:
    """PQ as a shortlist generator + exact cosine rerank (VERDICT r12
    ask #8): ADC scores pick R_RERANK candidates per query, the exact
    cosine re-scores ONLY the shortlist (R_RERANK x |Q| dots, not
    N x |Q| — the scan stays the memory-bandwidth PQ code scan), then
    the true scores rank to TOP_K. Raw `topk_cosine_pq` remains as the
    compression-loss dashboard; this key is the answer a user should
    serve."""
    from pyspark.sql import Window

    v, sub, cb, codes = _pq_index(spark, sf_dir)
    lut = _pq_lut(sub, cb)
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("match_id"))
        .agg(F.sum("p6").alias("score6"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("score6").desc(), "match_id")
    short = (adc.withColumn("rk", F.row_number().over(wa))
             .filter(F.col("rk") <= (r_rerank or R_RERANK))
             .select("query_id", "match_id"))
    q = v.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
                 F.col("nrm").alias("qn"))
    c = v.select(F.col("vec_id").alias("match_id"), F.col("e").alias("ce"),
                 F.col("nrm").alias("cn"))
    score = _spark_dot("qe", "ce") / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("match_id"))
    return (
        short.join(q, "query_id").join(c, "match_id")
        .select("query_id", "match_id", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "match_id", "rank",
                (F.floor(F.col("score") * 1e6 + F.lit(0.5)) / 1e6)
                .alias("score"))
    )


def _pq_rerank_oracle() -> str:
    return f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
n AS (
    SELECT vec_id, e, sqrt({_dot_sql('e', 'e')}) AS nrm FROM v
),
{_pq_ctes()},
adc AS (
    SELECT l.query_id, c.vec_id AS match_id, sum(l.p6) AS score6
    FROM pq_codes c JOIN pq_lut l ON l.m = c.m AND l.code = c.code
    WHERE c.vec_id <> l.query_id
    GROUP BY 1, 2
),
short AS (
    SELECT query_id, match_id FROM (
        SELECT query_id, match_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score6 DESC, match_id) AS rk
        FROM adc) WHERE rk <= {R_RERANK}
),
exact AS (
    SELECT s.query_id, s.match_id,
           ({_dot_sql('q.e', 'c.e')}) / (q.nrm * c.nrm) AS score
    FROM short s
    JOIN n q ON q.vec_id = s.query_id
    JOIN n c ON c.vec_id = s.match_id
)
SELECT query_id, match_id, rank,
       floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
FROM (
    SELECT query_id, match_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, match_id) AS rank
    FROM exact)
WHERE rank <= {TOP_K}
""".strip()


def _pq_rerank_recall(spark: SparkSession, sf_dir: str,
                      r_rerank: int | None = None) -> DataFrame:
    """recall@k of the reranked PQ pipeline vs brute force — the number
    a PQ user actually gets (shortlist recall, not code-order recall).
    ``r_rerank`` overrides the shortlist width (tools/pq_curve.py
    sweeps it for the width/recall curve)."""
    brute = _topk_cosine(spark, sf_dir).select("query_id", "match_id")
    rr = _topk_pq_rerank(spark, sf_dir,
                         r_rerank=r_rerank).select("query_id", "match_id")
    hits = (
        brute.join(rr, ["query_id", "match_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0).cast("long"))
    return (
        brute.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id", "k", n_hit.alias("n_hit"),
            (n_hit / F.col("k")).alias("recall"),
        )
    )


def _pq_rerank_recall_oracle() -> str:
    return f"""
SELECT b.query_id, b.k, coalesce(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
       coalesce(h.n_hit, CAST(0 AS BIGINT)) / b.k AS recall
FROM (
    SELECT query_id, count(*) AS k FROM ({_topk_oracle()}) GROUP BY 1
) b
LEFT JOIN (
    SELECT bb.query_id, count(*) AS n_hit
    FROM ({_topk_oracle()}) bb
    JOIN ({_pq_rerank_oracle()}) pp
      ON pp.query_id = bb.query_id AND pp.match_id = bb.match_id
    GROUP BY 1
) h ON h.query_id = b.query_id
""".strip()


SQ_LEVELS = 255  # 8-bit scalar quantization


def _quantize_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar quantization of the embedding table — the vector-
    compression pass an ANN index build runs before writing codes (a
    64-dim float32 vector becomes 64 bytes, 4x smaller; PQ would go
    further but needs trained codebooks).

    Per-dimension min/max ranges come from one posexplode + groupBy (a
    DIM-row table — broadcast back), then codes are a pure map stage:
    code = floor((x - mn) * 255 / (mx - mn)) clamped to [0, 255]. Every
    arithmetic step is a single correctly-rounded IEEE op with identical
    association in both engines, so codes match bit-for-bit. The rollup
    emits exact-integer telemetry (code sums/extremes) plus an
    order-pinned md5 of the full code string — value-checking all 64
    codes per vector without 64 output columns."""
    v = _spark_vectors_cached(spark, sf_dir)
    ex = v.select("vec_id", F.posexplode("e").alias("pos", "x"))
    stats = ex.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    code = (
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.lit(SQ_LEVELS).cast("long"),
                F.floor((F.col("x") - F.col("mn")) * float(SQ_LEVELS)
                        / (F.col("mx") - F.col("mn"))),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    coded = ex.join(F.broadcast(stats), "pos").select(
        "vec_id", "pos", code.alias("code"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "code"))),
        lambda s: s["code"].cast("string"),
    )
    return coded.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum("code").cast("long").alias("code_sum"),
        F.min("code").alias("code_min"),
        F.max("code").alias("code_max"),
        F.md5(F.concat_ws("_", ordered)).alias("codes_md5"),
    )


QUANTIZE_SQ_SQL = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
ex AS (
    SELECT vec_id, u.pos AS pos, u.x AS x
    FROM (
        SELECT vec_id,
               unnest(list_transform(range(0, {DIM}),
                                     i -> {{'pos': i, 'x': e[i + 1]}})) AS u
        FROM v
    )
),
stats AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
coded AS (
    SELECT ex.vec_id, ex.pos,
           CAST(CASE WHEN s.mx > s.mn
                THEN least({SQ_LEVELS}, floor((ex.x - s.mn) * {float(SQ_LEVELS)!r}
                                              / (s.mx - s.mn)))
                ELSE 0 END AS INT) AS code
    FROM ex JOIN stats s ON s.pos = ex.pos
)
SELECT vec_id, count(*) AS n_dims,
       CAST(sum(code) AS BIGINT) AS code_sum,
       min(code) AS code_min,
       max(code) AS code_max,
       md5(string_agg(CAST(code AS VARCHAR), '_' ORDER BY pos)) AS codes_md5
FROM coded GROUP BY vec_id
""".strip()


# ------------------------------------------------------------- PQ ANN ----

M_SUB = 8                 # subspaces
SUB_DIM = DIM // M_SUB    # 8 dims each
K_PQ = 8                  # codes per subspace -> 3-bit codes, 8B/vector

# PQ artifacts cached per session like the IVF index: codebooks + codes
# are a build step a resident engine runs once.
_PQ_CACHE = SessionCache()


def _pq_subs(df: DataFrame) -> DataFrame:
    """Normalized subvectors as (vec_id, m, sv[SUB_DIM]) — element
    expressions are explicit literals, so the SQL twin's arrays are
    generated identically and every downstream double matches."""
    arr = F.array(*[
        F.struct(
            F.lit(m).alias("m"),
            F.array(*[
                F.col("e")[m * SUB_DIM + d] / F.col("nrm")
                for d in range(SUB_DIM)
            ]).alias("sv"),
        )
        for m in range(M_SUB)
    ])
    return (df.select("vec_id", F.explode(arr).alias("p"))
            .select("vec_id", "p.m", "p.sv"))


def _pq_index(spark: SparkSession, sf_dir: str):
    """Train per-subspace codebooks (seed + one exact fixed-point Lloyd
    step — the same determinism scheme as the IVF coarse quantizer) and
    encode the corpus. Returns (v, sub, cb, codes); the subvector
    relation is materialized once (consumed by seed-encode, the Lloyd
    join, the final encode, and the query LUT — four consumers that
    would otherwise each re-derive 64 divisions + array builds per
    vector), hash(vec_id)-clustered so every per-vector groupBy is
    partition-local. The whole build runs in the input-sized shuffle
    scope (see _shuffle_sized_to_input)."""
    v = _spark_vectors_cached(spark, sf_dir)

    def build():
        from pandas_ta_spark.ext.dedup import (
            _input_bytes, _shuffle_sized_to_input)

        with _shuffle_sized_to_input(
                spark, _input_bytes(spark, sf_dir, "embeddings")):
            return _pq_build(spark, v)

    key = SessionCache.key(spark, sf_dir,
                           version=table_fingerprint(sf_dir, "embeddings"))
    return (v, *_PQ_CACHE.cached(key, build))


def pq_encode(sub: DataFrame, cbdf: DataFrame) -> DataFrame:
    """Frozen-codebook PQ encoding of (vec_id, m, sv) subvectors — the
    shared primitive of the index build AND online vector ingestion
    (`streaming.ann.stream_vector_ingest` encodes additions with the
    session codebooks, the IndexIVFPQ ``add()`` path).

    argmin as min(struct(dist, code)): lexicographic struct order =
    smallest distance, ties to the smallest code — the exact twin of
    the SQL row_number(ORDER BY dist, code). Distances are
    left-associated explicit sums -> bit-identical doubles -> the
    ordering agrees across engines."""
    dist = F.lit(0.0)
    for d in range(SUB_DIM):
        t = F.col("sv")[d] - F.col("cv")[d]
        dist = dist + t * t
    return (
        sub.join(F.broadcast(cbdf), "m")
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(dist.alias("dist"), F.col("code").alias("code")))
             .alias("b"))
        .select("vec_id", "m", F.col("b.code").alias("code"))
    )


def _pq_build(spark: SparkSession, v: DataFrame):
    sub = materialize(_pq_subs(v).repartition("vec_id"))
    seeds = (
        sub.filter((F.col("vec_id") >= N_QUERIES)
                   & (F.col("vec_id") < N_QUERIES + K_PQ))
        .select("m", (F.col("vec_id") - N_QUERIES).alias("code"),
                F.col("sv").alias("cv"))
    )

    def encode(cbdf: DataFrame) -> DataFrame:
        return pq_encode(sub, cbdf)

    # one Lloyd step: exact BIGINT sums of 1e-6-quantized components
    # per (m, code) — order-independent integer addition, so Spark and
    # DuckDB train bit-identical codebooks. Empty clusters simply drop
    # out of the groupBy (both engines re-encode over survivors).
    asg = encode(seeds).join(sub, ["vec_id", "m"])
    sums = asg.groupBy("m", "code").agg(
        *[F.sum(F.floor(F.col("sv")[d] * 1e6 + F.lit(0.5)).cast("long"))
          .alias(f"s{d}") for d in range(SUB_DIM)],
        F.count(F.lit(1)).alias("cnt"),
    )
    cb = materialize(sums.select(
        "m", "code",
        F.array(*[F.col(f"s{d}") / F.lit(1e6) / F.col("cnt")
                  for d in range(SUB_DIM)]).alias("cv"),
    ))
    codes = materialize(encode(cb))
    return sub, cb, codes


def _topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k cosine: encode the corpus as M_SUB
    3-bit codes (8 bytes/vector vs 512 — the compression regime past
    scalar quantization), then score queries with asymmetric distance
    computation: a per-query lookup table of subvector-x-centroid dots,
    summed over subspaces via the codes. The fourth ANN regime next to
    brute force, LSH, and IVF; at 100 TB you compose it with IVF lists
    (IVF-PQ) so the LUT-scan covers only probed lists.

    Determinism: LUT partials are 1e-6 fixed-point BIGINTs, so the
    cross-subspace sum is exact-integer and the final ranking orders by
    an integer — no float tie ambiguity anywhere. Scan cost is
    |Q| x N x M_SUB code lookups (broadcast LUT join, no vector math in
    the scan) — the memory-bandwidth shape real PQ scanners have."""
    v, sub, cb, codes = _pq_index(spark, sf_dir)
    lut = _pq_lut(sub, cb)
    # the ADC groupBy folds M_SUB partials per (query, vec); codes is
    # hash(vec_id)-clustered, but the grouping key adds query_id, so one
    # |Q|xN-row shuffle remains — bounded by the scan output itself
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("match_id"))
        .agg(F.sum("p6").alias("score6"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score6").desc(), "match_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "match_id", "rank",
                (F.col("score6") / F.lit(1e6)).alias("score"))
    )


def _pq_ctes() -> str:
    """PQ training/encoding CTE chain (assumes `n(vec_id, e, nrm)` is
    already defined) ending at `pq_codes(vec_id, m, code)`, `pq_cb`, and
    `pq_lut(query_id, m, code, p6)`. Prefixed names so the chain composes
    with `_ivf_ctes()` (IVF-PQ oracle) without CTE collisions."""
    def sv_list(src: str) -> list[str]:
        return [f"[{', '.join(f'{src}.e[{m * SUB_DIM + d + 1}] / {src}.nrm' for d in range(SUB_DIM))}]"
                for m in range(M_SUB)]

    subs = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, {sv} AS sv FROM n"
        for m, sv in enumerate(sv_list("n"))
    )
    dist = " + ".join(
        f"(s.sv[{d + 1}] - c.cv[{d + 1}]) * (s.sv[{d + 1}] - c.cv[{d + 1}])"
        for d in range(SUB_DIM)
    )
    qsums = ", ".join(
        f"sum(CAST(floor(pq_sub.sv[{d + 1}] * 1e6 + 0.5) AS BIGINT)) AS s{d}"
        for d in range(SUB_DIM)
    )
    comps = ", ".join(f"s{d} / 1e6 / cnt" for d in range(SUB_DIM))
    pdot = " + ".join(f"s.sv[{d + 1}] * c.cv[{d + 1}]" for d in range(SUB_DIM))
    return f"""pq_sub AS ({subs}),
pq_d0 AS (
    SELECT s.vec_id, s.m, c.code, {dist} AS dist
    FROM pq_sub s JOIN (
        SELECT m, vec_id - {N_QUERIES} AS code, sv AS cv FROM pq_sub
        WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + K_PQ}
    ) c USING (m)
),
pq_a0 AS (
    SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, code) AS rk
        FROM pq_d0) WHERE rk = 1
),
pq_tr AS (
    SELECT pq_a0.m, pq_a0.code, {qsums}, count(*) AS cnt
    FROM pq_a0 JOIN pq_sub USING (vec_id, m) GROUP BY 1, 2
),
pq_cb AS (SELECT m, code, [{comps}] AS cv FROM pq_tr),
pq_d1 AS (
    SELECT s.vec_id, s.m, c.code, {dist} AS dist
    FROM pq_sub s JOIN pq_cb c USING (m)
),
pq_codes AS (
    SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, code) AS rk
        FROM pq_d1) WHERE rk = 1
),
pq_lut AS (
    SELECT s.vec_id AS query_id, s.m, c.code,
           CAST(floor(({pdot}) * 1e6 + 0.5) AS BIGINT) AS p6
    FROM pq_sub s JOIN pq_cb c USING (m)
    WHERE s.vec_id < {N_QUERIES}
)"""


def _pq_oracle() -> str:
    return f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
n AS (
    SELECT vec_id, e, sqrt({_dot_sql('e', 'e')}) AS nrm FROM v
),
{_pq_ctes()},
adc AS (
    SELECT l.query_id, c.vec_id AS match_id, sum(l.p6) AS score6
    FROM pq_codes c JOIN pq_lut l ON l.m = c.m AND l.code = c.code
    WHERE c.vec_id <> l.query_id
    GROUP BY 1, 2
)
SELECT query_id, match_id, rank, score6 / 1000000.0 AS score
FROM (
    SELECT query_id, match_id, score6,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score6 DESC, match_id) AS rank
    FROM adc)
WHERE rank <= {TOP_K}
""".strip()


DRIFT_SLICES = 4  # deterministic pseudo-windows: vec_id % DRIFT_SLICES


def _drift_by_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift, batch form: per deterministic
    corpus slice (vec_id % DRIFT_SLICES — the oracle-able stand-in for
    event-time windows), the cosine between the slice's mean vector and
    the full-corpus mean. The value-checked twin of the arithmetic
    `streaming.ann.stream_embedding_drift` runs per window.

    Fully order-independent: per-dimension sums are 1e-6 fixed-point
    BIGINTs, per-dimension means re-quantize to BIGINTs, and the
    dot/norms fold as exact INTEGER sums of quantized products — no
    float accumulation anywhere until the final single division, which
    both engines perform identically. cos is 1e-6-rounded for the
    value-hash."""
    v = _spark_vectors_cached(spark, sf_dir)
    q6 = F.floor(F.col("x") * 1e6 + F.lit(0.5)).cast("long")
    ex = v.select(
        "vec_id", F.posexplode("e").alias("pos", "x")
    ).select(
        (F.col("vec_id") % DRIFT_SLICES).alias("slice"), "pos",
        q6.alias("x6"),
    )
    sl = ex.groupBy("slice", "pos").agg(
        F.sum("x6").alias("s"), F.count(F.lit(1)).alias("n"))
    co = ex.groupBy("pos").agg(
        F.sum("x6").alias("cs"), F.count(F.lit(1)).alias("cn"))
    mq = F.floor(((F.col("s") / 1e6) / F.col("n")) * 1e6 + F.lit(0.5))         .cast("long")
    cq = F.floor(((F.col("cs") / 1e6) / F.col("cn")) * 1e6 + F.lit(0.5))         .cast("long")
    folded = (
        sl.join(co, "pos")
        .select("slice", "n", mq.alias("mq"), cq.alias("cq"))
        .groupBy("slice")
        .agg(
            (F.max("n")).alias("n_vecs"),
            F.sum(F.col("mq").cast("decimal(38,0)") * F.col("mq"))
            .alias("nm6"),
            F.sum(F.col("cq").cast("decimal(38,0)") * F.col("cq"))
            .alias("nc6"),
            F.sum(F.col("mq").cast("decimal(38,0)") * F.col("cq"))
            .alias("dot6"),
        )
    )
    cos = (F.col("dot6")
           / F.sqrt(F.col("nm6").cast("double") * F.col("nc6").cast("double")))
    return folded.select(
        "slice", "n_vecs",
        (F.floor(cos * 1e6 + F.lit(0.5)) / 1e6).alias("cos_to_corpus"),
    )


DRIFT_BY_SLICE_SQL = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
ex AS (
    SELECT vec_id % {DRIFT_SLICES} AS slice, u.pos AS pos,
           CAST(floor(u.x * 1000000.0 + 0.5) AS BIGINT) AS x6
    FROM (
        SELECT vec_id,
               unnest(list_transform(range(0, {DIM}),
                                     i -> {{'pos': i, 'x': e[i + 1]}})) AS u
        FROM v
    )
),
sl AS (
    SELECT slice, pos, sum(x6) AS s, count(*) AS n
    FROM ex GROUP BY slice, pos
),
co AS (
    SELECT pos, sum(x6) AS cs, count(*) AS cn FROM ex GROUP BY pos
),
j AS (
    SELECT sl.slice, sl.n,
           CAST(floor(((CAST(sl.s AS DOUBLE) / 1000000.0) / sl.n)
                      * 1000000.0 + 0.5) AS BIGINT) AS mq,
           CAST(floor(((CAST(co.cs AS DOUBLE) / 1000000.0) / co.cn)
                      * 1000000.0 + 0.5) AS BIGINT) AS cq
    FROM sl JOIN co USING (pos)
),
f AS (
    SELECT slice, max(n) AS n_vecs,
           sum(CAST(mq AS HUGEINT) * mq) AS nm6,
           sum(CAST(cq AS HUGEINT) * cq) AS nc6,
           sum(CAST(mq AS HUGEINT) * cq) AS dot6
    FROM j GROUP BY slice
)
SELECT slice, n_vecs,
       floor(dot6 / sqrt(CAST(nm6 AS DOUBLE) * CAST(nc6 AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS cos_to_corpus
FROM f
""".strip()


def _norm_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality telemetry: per-label norm profile (count, mean,
    min, max, std of vector L2 norms). Collapsed or degenerate classes —
    an encoder emitting near-zero or saturated vectors for one label —
    show up as a norm distribution outlier long before a recall eval
    does; this is the cheap per-ingest health check.

    JOINLESS map stage: each vector folds to one exact-integer sum of
    squared 1e-6-quantized elements INSIDE the array (no explode — the
    corpus never fans out DIM-fold), the norm re-quantizes to a 1e-6
    BIGINT, and the per-label moments are exact 128-bit integer sums
    (Spark DECIMAL(38,0) / DuckDB HUGEINT — int64 would wrap at ~3k
    unit-norm vectors per label in n*sq - s^2, the r6 BETA_SCALE
    overflow class, while DuckDB silently promotes: the engines would
    diverge exactly at scale) with single double expressions at the
    end. ONE shuffle on label (map-side partials, #labels groups)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", "embedding")
    ss = F.expr(
        "aggregate(transform(embedding,"
        " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)),"
        " CAST(0 AS DECIMAL(38,0)),"
        " (acc, q) -> acc + CAST(q AS DECIMAL(38,0)) * q)")
    n6 = F.floor(F.sqrt(ss.cast("double")) + F.lit(0.5)).cast("long")
    d38 = "decimal(38,0)"
    g = emb.select(F.col("label").cast("long").alias("label"),
                   n6.alias("n6")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("n6").cast(d38)).alias("s"),
        F.sum(F.col("n6").cast(d38) * F.col("n6")).alias("sq"),
        F.min("n6").alias("mn"),
        F.max("n6").alias("mx"),
    )
    nn = F.col("n_vecs")
    mean = F.col("s").cast("double") / nn / F.lit(1e6)
    std = (F.sqrt((nn.cast(d38) * F.col("sq")
                   - F.col("s") * F.col("s")).cast("double"))
           / nn / F.lit(1e6))
    return g.select(
        "label", "n_vecs",
        round_col(mean).alias("mean_norm"),
        round_col(F.col("mn").cast("double") / F.lit(1e6)).alias("min_norm"),
        round_col(F.col("mx").cast("double") / F.lit(1e6)).alias("max_norm"),
        round_col(std).alias("std_norm"),
    )


NORM_BY_LABEL_SQL = f"""
WITH q AS (
    SELECT CAST(label AS BIGINT) AS label,
           CAST(floor(sqrt(CAST(list_sum(list_transform(
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)),
                   q -> CAST(q AS HUGEINT) * q)) AS DOUBLE)) + 0.5)
                AS BIGINT) AS n6
    FROM embeddings
),
g AS (
    SELECT label, count(*) AS n_vecs,
           sum(CAST(n6 AS HUGEINT)) AS s,
           sum(CAST(n6 AS HUGEINT) * n6) AS sq,
           min(n6) AS mn, max(n6) AS mx
    FROM q GROUP BY label
)
SELECT label, n_vecs,
       {sql_round('CAST(s AS DOUBLE) / n_vecs / 1000000.0')} AS mean_norm,
       {sql_round('CAST(mn AS DOUBLE) / 1000000.0')} AS min_norm,
       {sql_round('CAST(mx AS DOUBLE) / 1000000.0')} AS max_norm,
       {sql_round('sqrt(CAST(n_vecs * sq - s * s AS DOUBLE)) '
                  '/ n_vecs / 1000000.0')} AS std_norm
FROM g
""".strip()


SUITE = {
    "embedding_quantize_sq": ExtQuery(_quantize_sq, QUANTIZE_SQ_SQL),
    "embedding_norm_by_label": ExtQuery(_norm_by_label, NORM_BY_LABEL_SQL),
    "embedding_drift_by_slice": ExtQuery(_drift_by_slice, DRIFT_BY_SLICE_SQL),
    "topk_cosine_pq": ExtQuery(_topk_pq, _pq_oracle()),
    "topk_cosine_pq_rerank": ExtQuery(_topk_pq_rerank, _pq_rerank_oracle()),
    "topk_pq_rerank_recall": ExtQuery(_pq_rerank_recall,
                                      _pq_rerank_recall_oracle()),
    "topk_cosine_ivfpq": ExtQuery(_topk_ivfpq, _ivfpq_oracle()),
    "topk_pq_recall": ExtQuery(_pq_recall, _pq_recall_oracle()),
    "ivf_cluster_profile": ExtQuery(
        _ivf_cluster_profile, _ivf_cluster_profile_oracle()),
    "embedding_label_centroids": ExtQuery(_label_centroids, LABEL_CENTROIDS_SQL),
    "topk_ivf_recall": ExtQuery(_ivf_recall, _ivf_recall_oracle()),
    "topk_cosine": ExtQuery(_topk_cosine, _topk_oracle()),
    "topk_cosine_lsh": ExtQuery(_topk_lsh, _topk_lsh_oracle()),
    "topk_cosine_ivf": ExtQuery(_topk_ivf, _topk_ivf_oracle()),
    "neardup_cosine_lsh": ExtQuery(_neardup_cosine, _neardup_oracle()),
    "semdedup_keep": ExtQuery(_semdedup_keep, _semdedup_keep_oracle()),
    "semdedup_cc_clusters": ExtQuery(_semdedup_cc, _semdedup_cc_oracle()),
}
