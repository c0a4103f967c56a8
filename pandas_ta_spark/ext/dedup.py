"""Deduplication operators over the documents table (SURVEY.md §7.5).

Scale design (100 TB): exact dedup is one hash-groupBy (map-side partial,
no skew — md5 keys are uniform). Near-dup NEVER compares all pairs:
MinHash signatures band into buckets (one shuffle on band key), only
bucket-mates are verified with true Jaccard. SimHash gives a second,
cheaper blocking key. The n-gram Jaccard entry verifies within
per-source blocks — the exact-but-blocked baseline the LSH variants
approximate.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_ta_spark.caches import SessionCache, table_fingerprint
from pandas_ta_spark.ckpt import materialize
from pandas_ta_spark.ext import ExtQuery  # noqa: TID252  (package root)
from pandas_ta_spark.sources.bars import load_table

N_HASHES = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_K = 3  # word 3-grams
JACCARD_THRESHOLD = 0.5


def _input_bytes(spark: SparkSession, sf_dir: str, table: str) -> int | None:
    """On-disk size of one input table via the Hadoop FS API (works for
    any scheme — local, HDFS, object store). Used to size shuffles; None
    on any failure so callers fall back to session defaults."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/{table}.parquet")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.getContentSummary(p).getLength()
    except Exception:
        return None


@contextmanager
def _shuffle_sized_to_input(spark: SparkSession, n_bytes: int | None,
                            per_part: int = 32 << 20, floor: int = 8):
    """Temporarily size spark.sql.shuffle.partitions to the input scale.

    AQE partition coalescing does this at runtime in prod, but the bench/
    gate sessions disable coalescing for the window stage's sake, leaving
    small derivations paying (default_partitions x stages) near-empty
    tasks — measured 2.9s -> 1.3s on the sf0.1 minhash derivation. The
    clamp ``min(session_default, ...)`` makes this a no-op whenever the
    input is big enough (the 100 TB case), so production plans are
    untouched. Callers MUST materialize everything they build inside the
    scope (the conf is restored on exit, and Spark reads it lazily at
    execution, not plan-build, time); same conf-mutation caveat as
    _dedup_cc — not safe under concurrent queries on the same session.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        old_n = int(old)
    except (TypeError, ValueError):
        # non-numeric conf (e.g. "auto" on managed platforms) — the
        # platform is already sizing shuffles; keep hands off
        yield
        return
    parts = None
    if n_bytes is not None:
        parts = min(old_n, max(floor, -(-n_bytes // per_part)))
    if parts is None or parts >= old_n:
        yield
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# --------------------------------------------------------------- exact ----

def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = F.md5(F.lower(F.trim(F.col("text"))))
    return (
        docs.groupBy(h.alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(lower(trim(text))) AS text_hash,
       count(*) AS n_dups,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1
""".strip()


# ------------------------------------------------------------- shingles ----

def _shingle_sql(rel: str = "documents") -> str:
    """DuckDB: distinct word-3-gram shingles per doc (list_transform over
    an index range — lateral range() joins are unsupported)."""
    return f"""
tok AS (
    SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM {rel}
),
shl AS (
    SELECT doc_id,
           list_transform(range(1, len(toks) - {SHINGLE_K - 2}),
                          i -> {" || ' ' || ".join(
                              f"toks[i+{k}]" if k else "toks[i]"
                              for k in range(SHINGLE_K))}) AS sl
    FROM tok
),
sh AS (
    SELECT DISTINCT doc_id, unnest(sl) AS shingle FROM shl
)
""".strip()


def _shingle_rows(docs: DataFrame) -> DataFrame:
    """Spark: one (doc_id, shingle) row per word-3-gram position, with
    repeats (explode over an index sequence — stays JVM-side, no
    Python). The one shingle derivation behind _shingles_spark and
    _hashed_shingles."""
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    df = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= SHINGLE_K  # Spark sequence() descends if start>stop
    )
    idx = F.explode(F.sequence(F.lit(0), F.size("toks") - SHINGLE_K)).alias("i")
    shingle = F.concat_ws(
        " ", *[F.col("toks")[F.col("i") + k] for k in range(SHINGLE_K)]
    )
    return df.select("doc_id", "toks", idx).select(
        "doc_id", shingle.alias("shingle"))


def _shingles_spark(docs: DataFrame) -> DataFrame:
    """Spark: distinct word-3-gram shingles per doc."""
    return _shingle_rows(docs).distinct()


# -------------------------------------------------------- minhash + LSH ----

def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH candidates + true-Jaccard verification.

    Signature: 16 min-hashes derived Kirsch-Mitzenmacher-style from ONE
    md5 per shingle — h1/h2 are the two 32-bit halves of md5(shingle),
    hash_j = (h1 + j*h2) mod 2^32 (exact BIGINT arithmetic, identical in
    both engines). The previous 16-independent-md5 signature was the
    dominant cost of the whole derivation (~4M md5 calls at sf0.1);
    two-hash composition is the standard Bloom-filter/minhash trick for
    exactly this reason. 4 bands x 4 rows -> bucket join -> verify. At
    100 TB the band self-join replaces the quadratic all-pairs scan;
    bucket sizes stay bounded because md5 is uniform.

    Verification is set-intersection over per-doc shingle-key ARRAYS
    (collect_set of a 60-bit slice of the same md5), not a join of two
    copies of the shingle relation: ONE aggregation pass produces the
    signature, the key set, and the set size together, so the corpus is
    scanned once, nothing corpus-sized is persisted, and the verify step
    is `size(array_intersect(ka, kb))` over the (tiny) candidate pair
    set. Key collisions are engine-identical (both engines slice the
    same md5), so the DuckDB oracle matches bit-for-bit.

    The whole derivation (including the final materialize) runs inside an
    input-sized shuffle scope — a no-op at production scale, a large
    task-overhead win at gate/bench scale where AQE coalescing is off.
    """
    with _shuffle_sized_to_input(spark, _input_bytes(spark, sf_dir, "documents")):
        return _dedup_minhash_impl(spark, sf_dir)


def _hashed_shingles(docs: DataFrame) -> DataFrame:
    """Raw (non-distinct) shingle hashes per doc: (doc_id, h1, h2, k)
    where h1/h2 are the Kirsch-Mitzenmacher halves and k the 60-bit
    verification-key slice of ONE md5 per shingle. NOT the
    distinct-shingle relation (_shingles_spark): min() is
    duplicate-insensitive and collect_set dedups inside the aggregate,
    so the raw exploded shingles feed ONE groupBy producing signature +
    key set + cardinality together — corpus scanned once, partition-
    local after a doc_id repartition, nothing corpus-sized persisted.
    Shared by _dedup_minhash_impl and _contamination_minhash so the two
    queries' signatures (and their common oracle CTE shapes) cannot
    drift.

    The stream computes the same signature per row instead (array
    transforms over each doc's shingle list, streaming/corpus.py
    _band_key_stream_exprs) because a stream cannot put this groupBy in
    front of a stateful operator. Batch keeps explode + groupBy: the
    per-row form gives bit-identical signatures but ran slower, 8.3-10.0
    s against 5.2-5.7 s for the signatures of 100k docs on local[4]
    (its array lambdas run without codegen)."""
    hx = F.col("hx")
    return (
        _shingle_rows(docs)
        .select("doc_id", F.md5("shingle").alias("hx"))
        .select(
            "doc_id",
            F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(hx, 9, 8), 16, 10).cast("bigint").alias("h2"),
            # 60-bit verification key: an independent slice of the SAME
            # md5. Collisions are engine-identical (the oracle slices the
            # same digest), so cross-engine hashes still match exactly.
            F.conv(F.substring(hx, 17, 15), 16, 10).cast("bigint").alias("k"),
        )
    )


def _minhash_sig(docs: DataFrame) -> DataFrame:
    """Per-doc MinHash signature + verification-key set: ONE groupBy over
    the raw shingle hashes producing mh0..mh{N-1} and `ks` (collect_set
    of the 60-bit keys) together. Shared by the self-join dedup and the
    train-x-eval decontamination query."""
    mins = [
        F.min((F.col("h1") + F.lit(j) * F.col("h2")) % F.lit(2**32)).alias(f"mh{j}")
        for j in range(N_HASHES)
    ]
    return (
        _hashed_shingles(docs)
        .groupBy("doc_id")
        .agg(*mins, F.collect_set("k").alias("ks"))
    )


def _banded(sig: DataFrame) -> DataFrame:
    """LSH band fan-out via explode (one scan of sig), not an N-way
    union: (doc_id, band, bkey). "_"-separated keys: integer minhashes
    are variable-width, so a bare concat would alias ("12","3") with
    ("1","23")."""
    rows_per_band = N_HASHES // N_BANDS
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bkey"),
        )
        for b in range(N_BANDS)
    ])
    return (
        sig.select("doc_id", F.explode(band_structs).alias("p"))
        .select("doc_id", "p.band", "p.bkey")
    )


def _dedup_minhash_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Partition the RAW text by doc_id before exploding: hash(doc_id)
    # satisfies the clustered distribution of every per-doc step, so the
    # shingle distinct, the signature groupBy, and the size counts all
    # run partition-local with ZERO further exchanges of the big shingle
    # relation. The alternative (explode first, let distinct shuffle) moves
    # ~3x the bytes at 100 TB — shingle rows repeat every word K times.
    docs = docs.repartition("doc_id")
    # persisted: consumed by the two self-join sides and the two verify
    # probes; per-doc rows (16 ints + the distinct-key array), i.e. the
    # corpus compressed ~10x (keys are 8 bytes vs ~20-byte shingles, each
    # stored once instead of once per consumer)
    sig = _minhash_sig(docs).persist(StorageLevel.MEMORY_AND_DISK)
    banded = _banded(sig)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with true shingle-set Jaccard via array
    # intersection: |A∩B| = size(array_intersect(ka, kb)). The candidate
    # pair set is orders of magnitude smaller than the corpus (dup-heavy
    # corpora excepted — then LSH banding itself needs retuning), so
    # BROADCAST it against the cached sig relation; the doc_b probe then
    # shuffles only the (pair-sized) candidate rows — sig itself stays
    # hash(doc_id)-clustered from the input repartition and never moves.
    ka = sig.select(F.col("doc_id").alias("doc_a"), F.col("ks").alias("ka"))
    kb = sig.select(F.col("doc_id").alias("doc_b"), F.col("ks").alias("kb"))
    out = (
        F.broadcast(cand).join(ka, "doc_a").join(kb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("ka", "kb")).cast("long").alias("n_inter"),
            F.size("ka").cast("long").alias("na"),
            F.size("kb").cast("long").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )
    # The verified pair set is tiny (dup pairs only). Materialize it and
    # release the per-doc intermediate — a long-lived session (the gate
    # runs ~185 queries; _dedup_cc re-enters this fn) must not accumulate
    # a cached relation per invocation. finally: a failed materialize
    # must not leave it resident either.
    try:
        out = materialize(out)
    finally:
        sig.unpersist()
    # refresh the downstream-consumer cache (see _pairs_cached): this call
    # always derives fresh — so its own cost stays honestly measured — but
    # keep-list/CC/telemetry consumers get the newest materialization free
    return _PAIRS_CACHE.put(SessionCache.key(
        spark, sf_dir, version=table_fingerprint(sf_dir, "documents")), out)


def _signature_ctes() -> str:
    """DuckDB CTE chain shingle -> hashed -> sig -> banded: the ONE
    definition of the Kirsch-Mitzenmacher MinHash signature + banding
    scheme on the oracle side (twin of _hashed_shingles/_minhash_sig/
    _banded on the Spark side). Shared by _pair_ctes AND the fuzzy-
    contamination oracle so a scheme change cannot desynchronize them.

    sig/banded are MATERIALIZED: DuckDB inlines plain CTEs at every
    reference, and sig is referenced N_BANDS + 2 times (band rows +
    the two verif joins) — inlined, each copy re-runs the whole
    shingle->minhash pipeline with its own hash tables concurrently,
    which spilled >80 GB of temp at x100-of-sf0.1 on a corpus whose
    materialized sig is ~50 MB (the same multi-reference blowup the
    r13 CC chain fix documented for l0..l21)."""
    mins = ",\n           ".join(
        f"min((h1 + {j} * h2) % 4294967296) AS mh{j}"
        for j in range(N_HASHES)
    )
    rows_per_band = N_HASHES // N_BANDS
    band_rows = []
    for b in range(N_BANDS):
        key = " || '_' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, {key} AS bkey FROM sig")
    bands = " UNION ALL ".join(band_rows)
    return f"""{_shingle_sql()},
hashed AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h1,
           CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) AS h2,
           CAST('0x' || substr(md5(shingle), 17, 15) AS BIGINT) AS k
    FROM sh
),
sig AS MATERIALIZED (
    SELECT doc_id, {mins},
           list_distinct(list(k)) AS ks
    FROM hashed GROUP BY doc_id
),
banded AS MATERIALIZED ({bands})"""


def _pair_ctes() -> str:
    """Shared DuckDB CTE chain producing the verified near-dup pair set
    `pairs(doc_a, doc_b, n_inter, jaccard)` — the SQL twin of
    ``_dedup_minhash``. Reused by the pair query, the keep-list, and the
    connected-components clustering oracle."""
    return f"""{_signature_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
verif AS (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(a.ks, b.ks)) AS BIGINT) AS n_inter,
           CAST(len(a.ks) AS BIGINT) AS na,
           CAST(len(b.ks) AS BIGINT) AS nb
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
),
pairs AS MATERIALIZED (
    SELECT doc_a, doc_b, n_inter,
           n_inter / (na + nb - n_inter) AS jaccard
    FROM verif
    WHERE n_inter / (na + nb - n_inter) >= {JACCARD_THRESHOLD}
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_pair_ctes()}
SELECT doc_a, doc_b, n_inter, jaccard FROM pairs
""".strip()


# --------------------------------------------------- exact blocked jaccard ----

def _dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= threshold within (source) blocks — the
    blocked-exact baseline the LSH path approximates. Quadratic within a
    block only; blocks are bounded by construction at scale."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # persisted: the shingle relation feeds THREE consumers (both join
    # sides + sizes) — unpersisted, Catalyst re-derives the corpus
    # scan+split+explode per consumer (the 3x-read trap _contamination's
    # audit documents)
    sh = _shingles_spark(docs).persist(StorageLevel.MEMORY_AND_DISK)
    blocks = docs.select("doc_id", "source")
    sha = (sh.join(blocks, "doc_id")
           .select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src"),
                   F.col("shingle").alias("s")))
    shb = (sh.join(blocks, "doc_id")
           .select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src"),
                   F.col("shingle").alias("s")))
    inter = (
        sha.join(shb, ["src", "s"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    na = sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "na"})
    nb = sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "nb"})
    out = (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )
    try:
        out = materialize(out)
    finally:
        sh.unpersist()
    return out


DEDUP_JACCARD_SQL = f"""
WITH {_shingle_sql()},
blk AS (SELECT doc_id, source FROM documents),
j AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN blk ba ON ba.doc_id = a.doc_id
    JOIN blk bb ON bb.source = ba.source
    JOIN sh b ON b.doc_id = bb.doc_id AND b.shingle = a.shingle
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT j.doc_a, j.doc_b, j.n_inter,
       j.n_inter / (na.n_sh + nb.n_sh - j.n_inter) AS jaccard
FROM j
JOIN sizes na ON na.doc_id = j.doc_a
JOIN sizes nb ON nb.doc_id = j.doc_b
WHERE j.n_inter / (na.n_sh + nb.n_sh - j.n_inter) >= 0.2
""".strip()


# -------------------------------------------------------------- simhash ----

def _simhash_bits():
    """16-bit simhash from the first 4 hex chars of md5(token): per bit,
    sign of sum over tokens of (bit set ? +1 : -1). Pure integer
    arithmetic — identical in both engines."""
    terms = []
    for nib in range(4):  # hex char position 1..4
        for bit in range(4):
            terms.append((nib, bit))
    return terms


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok"),
    )
    h = F.substring(F.md5("tok"), 1, 4)
    nibs = [
        F.conv(F.substring(h, i + 1, 1), 16, 10).cast("int").alias(f"nib{i}")
        for i in range(4)
    ]
    toks = toks.select("doc_id", *nibs)
    sums = []
    for nib, bit in _simhash_bits():
        b = (F.floor(F.col(f"nib{nib}") / (2 ** bit)) % 2)
        sums.append(F.sum(F.when(b == 1, 1).otherwise(-1)).alias(f"s{nib}_{bit}"))
    agg = toks.groupBy("doc_id").agg(*sums)
    bits = [
        F.when(F.col(f"s{nib}_{bit}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for nib, bit in _simhash_bits()
    ]
    return agg.select("doc_id", F.concat(*bits).alias("simhash16"))


def _simhash_oracle() -> str:
    hexmap = "0123456789abcdef"
    nib_cols = ", ".join(
        f"strpos('{hexmap}', substr(h, {i + 1}, 1)) - 1 AS nib{i}" for i in range(4)
    )
    sums = ", ".join(
        f"sum(CASE WHEN (CAST(floor(nib{nib} / {2 ** bit}) AS BIGINT) % 2) = 1"
        f" THEN 1 ELSE -1 END) AS s{nib}_{bit}"
        for nib, bit in _simhash_bits()
    )
    bits = " || ".join(
        f"CASE WHEN s{nib}_{bit} >= 0 THEN '1' ELSE '0' END"
        for nib, bit in _simhash_bits()
    )
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
    FROM documents
),
hx AS (SELECT doc_id, substr(md5(tok), 1, 4) AS h FROM tok),
nibs AS (SELECT doc_id, {nib_cols} FROM hx),
agg AS (SELECT doc_id, {sums} FROM nibs GROUP BY doc_id)
SELECT doc_id, {bits} AS simhash16 FROM agg
""".strip()


# Downstream-consumer cache for the verified near-dup pair set: the
# keep-list, the connected-components clustering, and the composed
# curation pipeline all start from the SAME pairs. _dedup_minhash already
# materializes them (localCheckpoint, tiny), so re-deriving the full
# shingle->signature->band->verify chain per consumer triples the gate's
# most expensive derivation for no new information. The public
# `dedup_minhash_lsh` query itself stays UNCACHED so its benchmark number
# reports the true derivation cost. At 100 TB the analogue is writing the
# pair set to a temp table once per pipeline run.
_PAIRS_CACHE = SessionCache()


def _pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    hit = _PAIRS_CACHE.get(SessionCache.key(
        spark, sf_dir, version=table_fingerprint(sf_dir, "documents")))
    # a miss derives fresh, and _dedup_minhash stores what it derives
    return hit if hit is not None else _dedup_minhash(spark, sf_dir)


def _dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational pipeline query: which documents survive exact +
    near-duplicate removal. keep = exact-group keeper AND not the higher
    doc_id of a verified near-dup pair."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = F.md5(F.lower(F.trim(F.col("text"))))
    keepers = (
        docs.groupBy(h.alias("hh"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    near = _pairs_cached(spark, sf_dir).select(F.col("doc_b").alias("doc_id")).distinct()
    kept = keepers.join(near, "doc_id", "left_anti")
    return docs.select("doc_id").join(
        kept.withColumn("kept", F.lit(1)), "doc_id", "left"
    ).select("doc_id", F.coalesce("kept", F.lit(0)).alias("kept"))


def _keep_list_oracle() -> str:
    return f"""
WITH {_pair_ctes()},
near AS (
    SELECT DISTINCT doc_b AS doc_id FROM pairs
),
keepers AS (
    SELECT min(doc_id) AS doc_id FROM documents
    GROUP BY md5(lower(trim(text)))
)
SELECT d.doc_id,
       CASE WHEN k.doc_id IS NOT NULL AND n.doc_id IS NULL
            THEN 1 ELSE 0 END AS kept
FROM documents d
LEFT JOIN keepers k ON k.doc_id = d.doc_id
LEFT JOIN near n ON n.doc_id = d.doc_id
""".strip()


# ---------------------------------------------- connected components ----

CC_MAX_ITERS = 20


def _dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster ids via connected components over the verified
    near-dup pair graph: cluster_id = min doc_id reachable through any
    chain of near-dup pairs (A~B, B~C => {A,B,C} one cluster, which the
    pairwise keep-list cannot express).

    Algorithm: min-label propagation WITH POINTER JUMPING to fixpoint.
    Each round is one distributed edge-join+groupBy (labels propagate
    along edges) composed with one node-sized label(label) self-join
    (pointer doubling); the driver only reads a scalar convergence count
    per round. Plain propagation needs diameter-many rounds — fine for
    clique-ish dup clusters, but CHAIN-shaped clusters (each doc
    near-dup of the next, e.g. successive crawl snapshots or the
    x100-replica gate's perturbed embeddings) have diameter O(cluster
    size) and turned the loop into O(d) full-graph shuffles. Jumping
    doubles label reach per round, so rounds = O(log d) and the
    CC_MAX_ITERS=20 cap covers diameter ~2^20 while still turning a
    pathological input into a loud error instead of an infinite loop.
    At 100 TB each round shuffles only the pair graph (orders of
    magnitude smaller than the corpus), and the label frame is persisted
    per round with lineage truncated.
    """
    pairs = _pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    # The verified pair graph is orders of magnitude smaller than the
    # corpus (and already materialized), so the iterative stage's
    # exchanges are sized to IT, not to the corpus-level shuffle config:
    # with the default 61 partitions every round pays ~61 near-empty
    # tasks x 3 shuffles (measured ~5s of the query's 6.4s at sf0.1).
    # AQE partition coalescing does exactly this in prod; the bench/gate
    # disable it for the window stage's sake, so size explicitly from the
    # (cheap, checkpointed) edge count and restore the config after.
    n_pairs = pairs.count()
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        old_n = int(old_parts)
    except (TypeError, ValueError):
        # non-numeric conf (e.g. "auto" on managed platforms) — the
        # platform sizes shuffles; run the loop without the resize
        # (same guard as _shuffle_sized_to_input)
        return materialize(_cc_loop(pairs))
    loop_parts = max(8, min(old_n, n_pairs // 100_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        # materialize INSIDE the try: _cc_loop's return is lazy, and the
        # post-loop join+agg must execute while loop_parts is still in
        # force (and before a concurrent query sees the mutated conf)
        return materialize(_cc_loop(pairs))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _cc_loop(pairs: DataFrame) -> DataFrame:
    # undirected: propagate min labels both ways
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id")).persist()
    try:
        for _ in range(CC_MAX_ITERS):
            prop = (
                edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            # persist+count barrier: the jump self-join below reads
            # `stepped` on BOTH sides — without the barrier the
            # edge-sized propagation join+agg would execute twice per
            # round. persist (not checkpoint) so the round's
            # intermediate is unpersistable below: checkpoint blocks
            # would stay pinned until ContextCleaner GC, up to
            # CC_MAX_ITERS node-sized frames on a long-lived gate
            # session (ADVICE r10). Lineage stays shallow regardless —
            # `labels` is checkpointed every round.
            stepped = (
                labels.join(prop, "doc_id", "left").select(
                    "doc_id",
                    F.least("cluster_id",
                            F.coalesce("nbr_min", "cluster_id")).alias("cluster_id"),
                ).persist())
            stepped.count()
            # pointer jumping: label <- label(label). Neighbor-min alone
            # moves the component min ONE hop per round (O(diameter)
            # rounds — a chain-shaped near-dup cluster of depth d needs d
            # rounds and d full-graph shuffles); composing it with one
            # label-of-label hop doubles the reach each round, so rounds
            # = O(log d) and CC_MAX_ITERS=20 covers diameter ~2^20. Every
            # label value is a node id of the same component (labels
            # start as self-ids and only adopt neighbor labels), so the
            # self-join hits; the node-sized join costs far less than the
            # edge-sized rounds it eliminates. Fixpoint unchanged: labels
            # are monotone non-increasing and bounded by the component
            # min, and a no-change round still certifies label(u) ==
            # label(v) across every edge. Pinned by the deep-chain test
            # (tests/test_api_and_ext.py::test_cc_deep_chain_converges).
            # materialize: truncate lineage -> O(1) plan depth per round
            new_labels = materialize(
                stepped.alias("l").join(
                    stepped.select(
                        F.col("doc_id").alias("cluster_id"),
                        F.col("cluster_id").alias("jump"),
                    ).alias("p"),
                    "cluster_id", "left")
                .select("doc_id",
                        F.coalesce("jump", "cluster_id").alias("cluster_id"))
            )
            # new_labels is materialized -> stepped's cache is dead
            # weight from here; release it before the next round
            stepped.unpersist()
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(f"CC did not converge in {CC_MAX_ITERS} rounds")
    finally:
        # non-convergence or mid-loop failure must not leave the edge /
        # label caches pinned on the long-lived gate session (labels is a
        # materialized checkpoint on the success path — unpersist no-ops)
        edges.unpersist()
        labels.unpersist()
    members = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        labels.join(members, "cluster_id")
        .select("doc_id", "cluster_id", "n_members")
    )


# Reach doubles per round: 21 covers any <=2^21-vertex graph. Static by
# design (ADVICE r13 suggested sizing ceil(log2(V)) per corpus): the
# oracle strings are built BEFORE any data is read (oracle_sql() has no
# sf/dir parameter), and the adaptive alternative — WITH RECURSIVE,
# which stops at fixpoint — is unsound here: UNION dedup drops vertices
# whose label stabilizes early from the working table, so they stop
# relaying later merges. 21 fixed rounds cost ~constant DuckDB work on
# small gates and stay loud-fail (hash mismatch) past 2^21 vertices.
CC_ORACLE_ROUNDS = 21


def cc_label_rounds_sql(id_out: str, rounds: int = CC_ORACLE_ROUNDS) -> str:
    """Static hash-to-min + pointer-doubling CC as a chained-CTE block
    (expects ``edges(s, t)`` already defined, both directions): ends at
    ``lab({id_out}, cluster_id)``.

    Replaces the recursive-CTE transitive closure, whose accumulated
    ``reach`` table is SUM OVER COMPONENTS OF |C|^2 rows — at the
    x100-of-sf0.1 replica the embedding near-dup graph merges label
    clusters into ~25k-member components and the closure OOM-killed the
    gate process (r13 scale find). This form is the DuckDB twin of the
    Spark ``_cc_loop``: per round, every vertex takes the min label over
    itself and its neighbors (one edge-sized join) and then jumps to its
    label's label (one vertex-sized self-join) — O(V+E) rows per round,
    reach at least doubles per round, so ``rounds`` static rounds reach
    the fixpoint for any graph with <= 2^rounds vertices. A corpus
    beyond that would value-hash MISMATCH (loud FAIL), never silently
    pass. Every CTE is MATERIALIZED: DuckDB 1.0 inlines (duplicates)
    multi-referenced CTEs, and each round references its predecessor
    twice — unmaterialized, the plan would blow up 2^rounds."""
    ctes = [
        "l0 AS MATERIALIZED ("
        "SELECT s AS v, min(least(s, t)) AS l FROM edges GROUP BY s)"
    ]
    for k in range(1, rounds + 1):
        a, p = f"a{k}", f"l{k - 1}"
        ctes.append(
            f"{a} AS MATERIALIZED (SELECT v, min(l) AS l FROM ("
            f"SELECT v, l FROM {p}"
            f" UNION ALL"
            f" SELECT e.t AS v, x.l FROM edges e JOIN {p} x ON x.v = e.s"
            f") GROUP BY v)")
        ctes.append(
            f"l{k} AS MATERIALIZED (SELECT a.v, least(a.l, b.l) AS l"
            f" FROM {a} a JOIN {a} b ON b.v = a.l)")
    ctes.append(
        f"lab AS MATERIALIZED (SELECT v AS {id_out}, l AS cluster_id"
        f" FROM l{rounds})")
    return ",\n".join(ctes)


def _cc_oracle() -> str:
    """Min-label CC over the pair graph (see cc_label_rounds_sql)."""
    return f"""
WITH {_pair_ctes()},
edges AS MATERIALIZED (
    SELECT doc_a AS s, doc_b AS t FROM pairs
    UNION
    SELECT doc_b AS s, doc_a AS t FROM pairs
),
{cc_label_rounds_sql("doc_id")},
members AS (SELECT cluster_id, count(*) AS n_members FROM lab GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, m.n_members
FROM lab l JOIN members m ON m.cluster_id = l.cluster_id
""".strip()


# ----------------------------------------------- benchmark contamination ----

EVAL_SOURCE = "src19"  # held-out "benchmark" slice of the corpus


def _contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scan: for every training document, the
    count and fraction of its word-3-grams that appear anywhere in the
    held-out eval set (source == EVAL_SOURCE).

    100 TB shape: eval suites are tiny next to a training corpus, so the
    distinct eval n-gram set is BROADCAST and the whole scan is one
    map-side join over the training shingles + one groupBy — the corpus
    is read once, never self-joined. The fraction divides exact BIGINTs,
    so both engines emit identical doubles."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # one persisted shingle relation feeds THREE consumers (eval set, train
    # sizes, train hits) — without it Catalyst re-derives the scan+explode
    # pipeline per consumer (audited: 10 exchanges, corpus read 3x)
    sh = _shingles_spark(docs.select("doc_id", "text")).persist(
        StorageLevel.MEMORY_AND_DISK)
    eval_ids = docs.filter(F.col("source") == EVAL_SOURCE).select("doc_id")
    train_ids = docs.filter(F.col("source") != EVAL_SOURCE).select("doc_id")
    eval_sh = sh.join(eval_ids, "doc_id").select("shingle").distinct()
    tr_sh = sh.join(train_ids, "doc_id")
    sizes = tr_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        tr_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_cont = F.coalesce(F.col("n_hit"), F.lit(0).cast("long"))
    out = (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_cont.alias("n_contaminated"),
            (n_cont / F.col("n_shingles")).alias("contaminated_frac"),
        )
    )
    try:
        # a failed materialize must not leave the corpus-sized shingle
        # cache resident (same try/finally as _span_dedup / minhash)
        out = materialize(out)
    finally:
        sh.unpersist()
    return out


def _contamination_oracle() -> str:
    return f"""
WITH {_shingle_sql()},
ev AS (
    SELECT DISTINCT s.shingle
    FROM sh s JOIN documents d ON d.doc_id = s.doc_id
    WHERE d.source = '{EVAL_SOURCE}'
),
tr AS (
    SELECT s.doc_id, s.shingle
    FROM sh s JOIN documents d ON d.doc_id = s.doc_id
    WHERE d.source <> '{EVAL_SOURCE}'
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY 1),
hits AS (
    SELECT t.doc_id, count(*) AS n_hit
    FROM tr t JOIN ev USING (shingle) GROUP BY 1
)
SELECT z.doc_id, z.n_shingles,
       coalesce(h.n_hit, CAST(0 AS BIGINT)) AS n_contaminated,
       coalesce(h.n_hit, CAST(0 AS BIGINT)) / z.n_shingles AS contaminated_frac
FROM sizes z LEFT JOIN hits h ON h.doc_id = z.doc_id
""".strip()


PREFIX_K = 16  # fingerprint = first 16 whitespace tokens


def _contamination_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-fingerprint benchmark decontamination — the exact-match
    layer of the decontamination stack, keyed on md5 of the first
    PREFIX_K whitespace tokens instead of the whole text: catches
    truncated, extended, or suffix-perturbed verbatim copies that a
    whole-document hash misses entirely (this corpus has ZERO whole-text
    exact dups — probed — while 22 prefix clusters exist at sf0.01; a
    whole-hash variant would be vacuous evidence). Uses the FUZZY id
    split (doc_id % MOD = REM): the synthetic corpus's duplicate
    clusters never cross source boundaries, so a source-based eval set
    would also be vacuous (same rationale as contamination_minhash).

    100 TB shape: TWO scans of documents (one builds the eval-side
    aggregate, one probes the train side) and the only shuffle moves
    the eval SUBSET's hashes (tiny) into its groupBy; the eval relation
    then BROADCASTS, so the per-doc flag is a map-side hash probe and
    the training corpus itself is never shuffled. A real deployment
    reads the eval suite from its own small table, making it one corpus
    scan. Output: every flagged train doc with its prefix hash and how
    many eval docs share it (an exact-int count)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    h = F.md5(F.concat_ws(" ", F.slice(toks, 1, PREFIX_K)))
    hashed = docs.select("doc_id", h.alias("prefix_hash"))
    is_eval = F.col("doc_id") % FUZZY_EVAL_MOD == FUZZY_EVAL_REM
    ev = (hashed.filter(is_eval)
          .groupBy("prefix_hash")
          .agg(F.count(F.lit(1)).alias("n_eval_docs")))
    return (hashed.filter(~is_eval)
            .join(F.broadcast(ev), "prefix_hash")
            .select("doc_id", "prefix_hash", "n_eval_docs"))


def _contamination_prefix_oracle() -> str:
    return f"""
WITH hashed AS (
    SELECT doc_id,
           md5(array_to_string(
               string_split(lower(trim(text)), ' ')[1:{PREFIX_K}], ' '))
               AS prefix_hash
    FROM documents
),
ev AS (
    SELECT prefix_hash, count(*) AS n_eval_docs
    FROM hashed WHERE doc_id % {FUZZY_EVAL_MOD} = {FUZZY_EVAL_REM}
    GROUP BY 1
)
SELECT t.doc_id, t.prefix_hash, e.n_eval_docs
FROM hashed t JOIN ev e USING (prefix_hash)
WHERE t.doc_id % {FUZZY_EVAL_MOD} <> {FUZZY_EVAL_REM}
""".strip()


FUZZY_CONTAM_THRESHOLD = 0.3  # lower than dedup: partial eval overlap matters
# Held-out "benchmark" slice for the FUZZY scan: a deterministic doc_id
# split rather than the source split contamination_ngrams uses — the
# synthetic corpus's near-dup pairs never cross source boundaries, so a
# source-based eval set would make this query vacuously empty; an id
# split lands pair members on both sides and exercises the verify path.
FUZZY_EVAL_MOD, FUZZY_EVAL_REM = 10, 7


def _contamination_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: training documents that are
    near-duplicates of any eval-set document (the held-out doc_id slice),
    found via MinHash band buckets — catches paraphrased/truncated eval
    leakage that the exact n-gram scan (`contamination_ngrams`) misses
    when few shingles survive verbatim.

    Same signature scheme and array-intersection verify as
    `_dedup_minhash` (16 Kirsch-Mitzenmacher hashes + a 60-bit key set
    from one md5, 4 bands), but the band join is train x eval instead
    of a self-join — candidates shrink to bucket-mates of the (tiny)
    eval side, whose banded signature table is BROADCAST. Only
    candidates pay the `size(array_intersect(...))` Jaccard check.
    Output: per flagged train doc, how many eval docs it collides with
    and the strongest verified overlap (max() is order-insensitive ->
    deterministic under any partitioning)."""
    from pyspark import StorageLevel

    with _shuffle_sized_to_input(spark, _input_bytes(spark, sf_dir, "documents")):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source")
        docs = docs.repartition("doc_id")
        sig = _minhash_sig(docs).persist(StorageLevel.MEMORY_AND_DISK)
        banded = _banded(sig)
        # the train/eval split is a pure doc_id predicate — inline it on
        # the banded relation instead of joining a split table (two
        # fewer joins; the oracle's split CTE is the same predicate)
        is_eval = F.col("doc_id") % FUZZY_EVAL_MOD == FUZZY_EVAL_REM
        tr_b = (banded.filter(~is_eval)
                .select(F.col("doc_id").alias("train_id"), "band", "bkey"))
        ev_b = (banded.filter(is_eval)
                .select(F.col("doc_id").alias("eval_id"), "band", "bkey"))
        cand = (
            tr_b.join(F.broadcast(ev_b), ["band", "bkey"])
            .select("train_id", "eval_id")
            .distinct()
        )
        kt = sig.select(F.col("doc_id").alias("train_id"), F.col("ks").alias("kt"))
        ke = sig.select(F.col("doc_id").alias("eval_id"), F.col("ks").alias("ke"))
        verified = (
            F.broadcast(cand).join(kt, "train_id").join(ke, "eval_id")
            .select(
                "train_id", "eval_id",
                F.size(F.array_intersect("kt", "ke")).cast("long").alias("n_inter"),
                F.size("kt").cast("long").alias("nt"),
                F.size("ke").cast("long").alias("ne"),
            )
            .withColumn(
                "jaccard",
                F.col("n_inter") / (F.col("nt") + F.col("ne") - F.col("n_inter")),
            )
            .filter(F.col("jaccard") >= FUZZY_CONTAM_THRESHOLD)
        )
        out = verified.groupBy("train_id").agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
        try:
            return materialize(out)
        finally:
            sig.unpersist()


def _contamination_minhash_oracle() -> str:
    return f"""
WITH {_signature_ctes()},
split AS (SELECT doc_id,
                 doc_id % {FUZZY_EVAL_MOD} = {FUZZY_EVAL_REM} AS is_eval
          FROM documents),
cand AS (
    SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
    FROM banded t JOIN split st ON st.doc_id = t.doc_id AND NOT st.is_eval
    JOIN banded e ON e.band = t.band AND e.bkey = t.bkey
    JOIN split se ON se.doc_id = e.doc_id AND se.is_eval
),
verif AS (
    SELECT c.train_id, c.eval_id,
           CAST(len(list_intersect(t.ks, e.ks)) AS BIGINT) AS n_inter,
           CAST(len(t.ks) AS BIGINT) AS nt,
           CAST(len(e.ks) AS BIGINT) AS ne
    FROM cand c
    JOIN sig t ON t.doc_id = c.train_id
    JOIN sig e ON e.doc_id = c.eval_id
),
verified AS (
    SELECT train_id, eval_id,
           n_inter / (nt + ne - n_inter) AS jaccard
    FROM verif
    WHERE n_inter / (nt + ne - n_inter) >= {FUZZY_CONTAM_THRESHOLD}
)
SELECT train_id, count(*) AS n_eval_matches, max(jaccard) AS max_jaccard
FROM verified GROUP BY train_id
""".strip()


# ----------------------------------------------- per-source dup telemetry ----

def _dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation telemetry rollup: per source, how many documents appear in
    at least one verified near-dup pair, and the rate. The pair set is
    already materialized (shared cache); the rollup is a tiny distinct +
    two aggregations — the dashboard query a 100 TB pipeline runs after
    every dedup pass."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _pairs_cached(spark, sf_dir)
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    flagged = docs.join(dup_ids.withColumn("is_dup", F.lit(1)), "doc_id", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_dup_docs"),
        )
        .select(
            "source", "n_docs", "n_dup_docs",
            (F.col("n_dup_docs") / F.col("n_docs")).alias("dup_rate"),
        )
    )


def _dup_rate_oracle() -> str:
    return f"""
WITH {_pair_ctes()},
dup_ids AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id FROM pairs
    )
)
SELECT d.source, count(*) AS n_docs,
       CAST(sum(CASE WHEN u.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
       CAST(sum(CASE WHEN u.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           / count(*) AS dup_rate
FROM documents d LEFT JOIN dup_ids u ON u.doc_id = d.doc_id
GROUP BY d.source
""".strip()


# ----------------------------------------------------- span-level dedup ----

SPAN_W = 20  # tokens per span window


def span_relation(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, h[, extra...]): one md5 per sliding SPAN_W-token window.

    The single definition of the span signature, shared by the batch
    ``dedup_spans`` op, the session span index, and the streaming span
    gate — stateless per-row expressions, so the streamed hashes are
    bit-identical to the batch/index ones by construction. Docs shorter
    than SPAN_W tokens drop out (they have no window; Spark's
    ``sequence()`` steps DOWNWARD when start > stop, so the filter is
    the only guard)."""
    # bind the token array ONCE per row: a lambda referencing the split
    # expression directly re-splits the text per element (O(tokens^2)
    # character copying — measured 6x on ngram_novelty)
    t = docs.select(
        "doc_id", *extra_cols,
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
    )
    spans = F.transform(
        F.sequence(F.lit(1), F.size("toks") - SPAN_W + 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, SPAN_W))),
    )
    return (
        t.filter(F.size("toks") >= SPAN_W)
        .select("doc_id", *extra_cols, F.explode(spans).alias("h"))
    )


def _span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SUBSTRING (span) dedup: per document, the fraction of its
    sliding SPAN_W-token windows that also occur in ANOTHER document —
    the span-level signal of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2022), which document-level dedup cannot
    express (two long documents sharing one boilerplate paragraph are
    not near-dups, but the paragraph should still count).

    Plan: one explode of window hashes (md5 of the joined token slice),
    one groupBy on the uniform hash key (map-side partials), then the
    scale refinement (VERDICT r7 ask #7) — the join-back touches ONLY
    potentially-duplicated spans:

    - ``n_spans`` per doc needs no join at all: a map-side-combine
      count over the span relation;
    - the build side of the dup-count join is the DUPLICATED-hash set
      (``n_docs_with_span >= 2``), not all owners. In a deduplicatable
      corpus that set is a small fraction of the span relation, so AQE
      converts the join to broadcast at runtime and the corpus-sized
      probe side is never shuffled — an exact (zero-false-positive)
      semi-join pre-filter, the role a Bloom filter plays when the dup
      set outgrows broadcast. (Spark's own runtime bloom-filter
      injection covers that regime; ``bloom_filter_agg`` is not
      user-registerable in this build, and hand-rolling a lossy bitmap
      to replace an exact broadcast would only add a confirm pass.)

    No self-join, no all-pairs anything; at 100 TB the span relation is
    ~tokens-sized — the same cost class as the shingle pass the MinHash
    path already pays."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _shuffle_sized_to_input(spark, _input_bytes(spark, sf_dir, "documents")):
        from pyspark import StorageLevel

        # the span relation feeds BOTH the owners groupBy and the
        # join-back; without persist Catalyst re-derives the dominant
        # scan+split+slice+md5+explode pipeline for each consumer —
        # the same corpus-read-twice trap _dedup_minhash persists
        # its shingle relation against
        sp = span_relation(docs).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_spans = sp.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_spans"))
            dup_hashes = (
                sp.groupBy("h")
                .agg(F.count_distinct("doc_id").alias("n_docs_with_span"))
                .filter(F.col("n_docs_with_span") >= 2)
                .select("h")
            )
            dup_counts = (
                sp.join(dup_hashes, "h")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n_dup_spans"))
            )
            out = (
                n_spans.join(dup_counts, "doc_id", "left")
                .select(
                    "doc_id", "n_spans",
                    F.coalesce("n_dup_spans", F.lit(0).cast("long"))
                    .alias("n_dup_spans"),
                    (F.coalesce("n_dup_spans", F.lit(0).cast("long"))
                     / F.col("n_spans")).alias("dup_span_frac"),
                )
            )
            return materialize(out)
        finally:
            # unpersist in finally: a failed materialize must not leave
            # the corpus-sized span cache resident for the session
            sp.unpersist()


def _span_dedup_oracle() -> str:
    return f"""
WITH tok AS (
    SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents
),
sp AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - {SPAN_W} + 2),
                                 i -> md5(array_to_string(toks[i:i+{SPAN_W - 1}], ' ')))) AS h
    FROM tok WHERE len(toks) >= {SPAN_W}
),
owners AS (
    SELECT h, count(DISTINCT doc_id) AS n_docs_with_span FROM sp GROUP BY h
)
SELECT s.doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN o.n_docs_with_span >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
       CAST(sum(CASE WHEN o.n_docs_with_span >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           / count(*) AS dup_span_frac
FROM sp s JOIN owners o ON o.h = s.h
GROUP BY s.doc_id
""".strip()


# ------------------------------------------- cross-source overlap matrix ----

def _dup_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which SOURCES duplicate each other: verified near-dup pairs rolled
    up to unordered (source, source) cells with pair counts and the
    strongest overlap. The curation dashboard that tells you one crawl
    mirrors another — consumes the shared materialized pair set, so at
    100 TB it costs two broadcast joins over the (tiny) pair relation
    plus one aggregation. max() over jaccard is order-insensitive, so the
    rollup is deterministic under any partitioning."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _pairs_cached(spark, sf_dir)
    sa = docs.withColumnsRenamed({"doc_id": "doc_a", "source": "source_a"})
    sb = docs.withColumnsRenamed({"doc_id": "doc_b", "source": "source_b"})
    # explicit hints: the checkpoint-backed pair set has no stats, so
    # static planning would never auto-broadcast it and both documents
    # sides would pay a corpus-sized shuffle; the first join's output is
    # still pair-sized, so hint it again for the second join
    j1 = F.broadcast(pairs).join(sa, "doc_a")
    return (
        F.broadcast(j1).join(sb, "doc_b")
        .groupBy(
            F.least("source_a", "source_b").alias("source_x"),
            F.greatest("source_a", "source_b").alias("source_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def _dup_overlap_oracle() -> str:
    return f"""
WITH {_pair_ctes()}
SELECT least(da.source, db.source) AS source_x,
       greatest(da.source, db.source) AS source_y,
       count(*) AS n_pairs,
       max(p.jaccard) AS max_jaccard
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
""".strip()


SUITE = {
    "dedup_keep_list": ExtQuery(_dedup_keep_list, _keep_list_oracle()),
    "dedup_overlap_by_source_pair": ExtQuery(
        _dup_overlap_sources, _dup_overlap_oracle()),
    "dedup_spans": ExtQuery(_span_dedup, _span_dedup_oracle()),
    "dedup_rate_by_source": ExtQuery(_dup_rate_by_source, _dup_rate_oracle()),
    "contamination_prefix": ExtQuery(_contamination_prefix,
                                     _contamination_prefix_oracle()),
    "contamination_ngrams": ExtQuery(_contamination, _contamination_oracle()),
    "contamination_minhash": ExtQuery(
        _contamination_minhash, _contamination_minhash_oracle()),
    "dedup_cc_clusters": ExtQuery(_dedup_cc, _cc_oracle()),
    "dedup_exact": ExtQuery(_dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": ExtQuery(_dedup_minhash, _minhash_oracle()),
    "dedup_ngram_jaccard": ExtQuery(_dedup_jaccard, DEDUP_JACCARD_SQL),
    "dedup_simhash": ExtQuery(_dedup_simhash, _simhash_oracle()),
}
