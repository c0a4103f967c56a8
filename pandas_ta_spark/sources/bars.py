"""Bar (OHLCV) data model and loaders.

The reference models one instrument per ``pandas.DataFrame`` with an
ascending DatetimeIndex (``pandas_ta/core.py#AnalysisIndicators``,
``#datetime_ordered``). The Spark-native model is ONE long DataFrame with an
explicit partition key (SURVEY.md §1.2):

    bars(symbol STRING, ts TIMESTAMP, open DOUBLE, high DOUBLE,
         low DOUBLE, close DOUBLE, volume DOUBLE)

Every indicator is computed per-symbol via
``Window.partitionBy("symbol").orderBy("ts")`` or
``groupBy("symbol").applyInPandas`` — that explicit key is what makes the
same code run on 100 TB: symbols hash-partition across executors, the scan
prunes columns, and a 50-indicator strategy needs one shuffle total.

Since the driver test data has no native bars table, bars derive from the
``events`` table (FIXTURES.md §2): symbol := event_type (5 symbols), hourly
tumbling buckets, open/close as the value of the lexicographically
min/max (ts, value) pair — equivalent to min_by/max_by on ts wherever ts
is unique (it is, in all driver data), but DETERMINISTIC under duplicate
timestamps too (ties break to the smaller/larger value), so a re-run on
tie-bearing telemetry data cannot flap. The SAME derivation is expressed
in ANSI SQL (``BARS_FROM_EVENTS_SQL``) so DuckDB oracles see identical
input — the oracle contract of ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

from pandas_ta_spark.caches import SessionCache, table_fingerprint

BAR_SCHEMA = StructType(
    [
        StructField("symbol", StringType(), False),
        StructField("ts", TimestampType(), False),
        StructField("open", DoubleType(), True),
        StructField("high", DoubleType(), True),
        StructField("low", DoubleType(), True),
        StructField("close", DoubleType(), True),
        StructField("volume", DoubleType(), True),
    ]
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table.

    Parquet scan => Catalyst gets column pruning + predicate pushdown for
    free; callers should ``select`` only needed columns so ReadSchema stays
    narrow.

    ``events.ts`` is written as TIMESTAMP(NANOS), which Spark's parquet
    reader rejects; read nanos as long and truncate to microseconds —
    exactly what DuckDB's ns->us cast does, so oracles see identical
    timestamps.

    ANSI mode is disabled for this session: indicators divide by prices
    and ranges that can legitimately be zero; Spark 4's ANSI default
    throws there, while non-ANSI Spark and DuckDB both yield NULL — the
    engine's documented zero-denominator semantics (pandas yields inf).
    """
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: the double path (ts/1000).cast(long) rounds
        # int64 epoch-nanos (~2^60) to 256ns multiples first, landing
        # ~1.5% of microsecond-precision values 1us low (measured) —
        # `div` is exact and matches DuckDB's integer ns->us truncation
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# ANSI-SQL twin of bars_from_events, runnable by DuckDB on the
# pre-registered `events` view. Keep in lockstep with bars_from_events().
def bars_from_events_sql(anchor: str = "hour") -> str:
    return f"""
SELECT
    event_type AS symbol,
    date_trunc('{anchor}', ts) AS ts,
    (min({{'t': ts, 'v': value}})).v AS open,
    max(value) AS high,
    min(value) AS low,
    (max({{'t': ts, 'v': value}})).v AS close,
    CAST(count(*) AS DOUBLE) AS volume
FROM events
GROUP BY 1, 2
""".strip()


BARS_FROM_EVENTS_SQL = bars_from_events_sql()


def with_bars_cte(body_sql: str) -> str:
    """Wrap an oracle query body with the shared bars derivation CTE."""
    return f"WITH bars AS (\n{BARS_FROM_EVENTS_SQL}\n)\n{body_sql}"


def bars_from_events(spark: SparkSession, sf_dir: str, anchor: str = "hour") -> DataFrame:
    """Derive multi-symbol OHLCV bars from the events stream.

    One aggregation = one shuffle on (symbol, bucket); at scale the events
    scan prunes to 3 columns and the groupBy does map-side partial
    aggregation before the exchange.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return (
        ev.groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc(anchor, F.col("ts")).alias("ts"),
        )
        .agg(
            F.min(F.struct("ts", "value"))["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "value"))["value"].alias("close"),
            F.count(F.lit(1)).cast("double").alias("volume"),
        )
    )


def _ntz_bucket(period_us: int):
    """Exact NTZ-pure period bucketing of the naive ``ts`` column — the
    ONE Spark-side definition shared by bars_from_events_bucketed and
    resample_bars (the SQL twins share make_timestamp(epoch_us...)).
    unix_micros(CAST(ts AS TIMESTAMP)) would interpret the naive value
    in the SESSION timezone (half-hour-offset or DST zones shift bucket
    boundaries vs the oracle's tz-free epoch_us) and emit a TZ-typed
    column; this stays timestamp_ntz end to end."""
    ntz_epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    return F.expr(
        f"timestampadd(MICROSECOND, CAST(floor("
        f"timestampdiff(MICROSECOND, {ntz_epoch}, ts) / {period_us}.0"
        f") AS BIGINT) * {period_us}, {ntz_epoch})")


def bars_from_events_bucketed(
    spark: SparkSession, sf_dir: str, minutes: int = 15
) -> DataFrame:
    """OHLCV resampling to arbitrary minute buckets (15m/5m/…): anchors
    `date_trunc` cannot express. The bucket is exact integer microsecond
    arithmetic — floor(epoch_us / P) * P — with the SAME floor(double
    division) form in the DuckDB twin (integer `//` truncates toward
    zero, which diverges from floor for pre-1970 timestamps), so bucket
    boundaries cannot drift between engines the way interval/timezone
    math can. Same single-aggregation
    one-shuffle shape as the anchored derivation above."""
    period_us = minutes * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    bucket = _ntz_bucket(period_us)
    return (
        ev.groupBy(
            F.col("event_type").alias("symbol"),
            bucket.alias("ts"),
        )
        .agg(
            F.min(F.struct("ts", "value"))["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "value"))["value"].alias("close"),
            F.count(F.lit(1)).cast("double").alias("volume"),
        )
    )


def resample_bars(df: DataFrame, minutes: int) -> DataFrame:
    """Resample a canonical bars relation to coarser minute buckets
    (1h -> 1d, 1m -> 15m, ...): OHLC semantics over bars — open = first
    bar's open, close = last bar's close, high/low/volume = max/min/sum.

    Same exact integer-microsecond bucket arithmetic and deterministic
    (ts, value)-struct tie-break as the events-to-bars derivations
    above; one aggregation = one shuffle with map-side partials."""
    period_us = minutes * 60 * 1_000_000
    bucket = _ntz_bucket(period_us)
    return (
        df.groupBy("symbol", bucket.alias("ts"))
        .agg(
            F.min(F.struct("ts", "open"))["open"].alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max(F.struct("ts", "close"))["close"].alias("close"),
            F.sum("volume").alias("volume"),
        )
    )


def bars_from_events_bucketed_sql(minutes: int = 15) -> str:
    period_us = minutes * 60 * 1_000_000
    return f"""
SELECT
    event_type AS symbol,
    make_timestamp(CAST(floor(epoch_us(ts) / {period_us}.0) AS BIGINT)
                   * {period_us}) AS ts,
    (min({{'t': ts, 'v': value}})).v AS open,
    max(value) AS high,
    min(value) AS low,
    (max({{'t': ts, 'v': value}})).v AS close,
    CAST(count(*) AS DOUBLE) AS volume
FROM events
GROUP BY 1, 2
""".strip()


# Correctness-gate cache: the driver runs ~200 queries against the SAME
# derived bars table; re-running the events scan+agg per query dominates
# gate wall time. An eager localCheckpoint materializes the derivation
# once per session (versioned by the events table) and truncates
# lineage, so each gate query starts from in-memory partitions.
# Production paths still call bars_from_events directly — the cache is
# only for the many-queries-over-one-small-table gate shape (at 100 TB
# you'd persist to a bucketed table instead, see write_bars_bucketed).
_BARS_CACHE = SessionCache()


def bars_from_events_cached(
    spark: SparkSession, sf_dir: str, anchor: str = "hour"
) -> DataFrame:
    from pandas_ta_spark.ckpt import materialize

    key = SessionCache.key(spark, sf_dir, anchor,
                           version=table_fingerprint(sf_dir, "events"))
    return _BARS_CACHE.cached(
        key, lambda: materialize(bars_from_events(spark, sf_dir, anchor)))


def write_bars(df: DataFrame, path: str, partition_days: bool = True) -> None:
    """Parquet sink for bars: date-partitioned layout
    (``.../date=YYYY-MM-DD/``) so time-range queries partition-prune.
    Partitioning by symbol directly would explode into millions of tiny
    files at scale — date + within-file symbol sort gives pruning AND
    locality."""
    if partition_days:
        out = df.withColumn("date", F.to_date("ts"))
        (out.repartition("date")
            .sortWithinPartitions("symbol", "ts")
            .write.mode("overwrite").partitionBy("date").parquet(path))
    else:
        df.write.mode("overwrite").parquet(path)


def write_bars_bucketed(df: DataFrame, table: str, buckets: int = 64) -> None:
    """Bucketed managed-table sink: bucketBy(symbol) pre-shuffles once at
    write time, so every later window/kernel/join on symbol reads
    co-located data with NO exchange — the bucketing story for repeated
    100 TB scans."""
    (df.write.mode("overwrite")
       .bucketBy(buckets, "symbol")
       .sortBy("symbol", "ts")
       .saveAsTable(table))


def datetime_ordered(df: DataFrame) -> bool:
    """Per-symbol ascending-ts check — the reference's
    ``df.ta.datetime_ordered`` (pandas_ta/core.py#datetime_ordered).
    One window pass counting out-of-order rows; True iff zero."""
    from pyspark.sql import Window

    w = Window.partitionBy("symbol").orderBy("ts")
    bad = df.select(
        (F.col("ts") < F.lag("ts", 1).over(w)).cast("int").alias("o")
    ).agg(F.sum("o").alias("n")).collect()[0]["n"]
    return not bad


def reverse(df: DataFrame) -> DataFrame:
    """Descending-time view — the reference's ``df.ta.reverse``
    (pandas_ta/core.py#reverse). Spark has no index: this is an ORDER BY,
    for presentation only (indicators always order by their window spec)."""
    return df.orderBy("symbol", F.col("ts").desc())


def constants(df: DataFrame, values: dict) -> DataFrame:
    """Inject constant columns — pandas_ta/core.py#constants."""
    return df.withColumns({k: F.lit(v) for k, v in values.items()})


def bars_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternate bar derivation: daily bars per order priority (FIXTURES.md §2)."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice", "o_orderkey"
    )
    key = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return (
        od.groupBy(
            F.col("o_orderpriority").alias("symbol"),
            F.date_trunc("day", F.col("o_orderdate")).alias("ts"),
        )
        .agg(
            F.min_by("o_totalprice", key).alias("open"),
            F.max("o_totalprice").alias("high"),
            F.min("o_totalprice").alias("low"),
            F.max_by("o_totalprice", key).alias("close"),
            F.count(F.lit(1)).cast("double").alias("volume"),
        )
    )
