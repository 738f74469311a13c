"""Schema registry + parquet sources for the driver test tables.

The reference declares all schemas externally (its Django models are
commented out; every query trusts a fixed catalog schema —
``/root/reference/myapp/models.py:1-119``, ``README.md:15``). We mirror
that stance: explicit ``StructType`` per table, no inference. Explicit
schemas also skip Spark's footer-sampling schema inference job, which
matters when a table is 100k parquet files on object storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    # Timestamps are read as TIMESTAMP_NTZ: the parquet files carry
    # unadjusted (naive) timestamps and the DuckDB oracle evaluates them
    # naively — NTZ keeps both engines on identical wall-clock values
    # regardless of any session timezone.
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    # events.ts has shipped in TWO physical forms across driver data
    # generations: nanosecond-precision int64 (Spark has no ns
    # timestamp, so it is read as raw long via nanosAsLong and
    # truncated to µs — the same truncation DuckDB applies) and native
    # unadjusted µs timestamp (read directly as TIMESTAMP_NTZ). The
    # registered schema holds the µs/NTZ form; load paths sniff one
    # parquet footer per directory (events_ts_is_long) and swap in the
    # long variant plus the div-1000 normalization when needed.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def configure_session(spark: SparkSession) -> None:
    """Runtime SQL confs the engine relies on, applied idempotently so
    the code also behaves under a caller-provided SparkSession:
    UTC session tz (all LTZ↔NTZ casts become value-preserving) and
    nanosAsLong (the only way Spark can read ns-precision parquet)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # recursive-CTE depth = the longest consecutive-day streak in
    # user_day_streaks; the 100-level default aborts on any feed with
    # a user active 100+ straight days (bots, monitors). 100k bounds a
    # ~274-year streak while still stopping a genuinely runaway query.
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "100000")


_EVENTS_NS_SCHEMA = T.StructType(
    [
        T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
        for f in SCHEMAS["events"].fields
    ]
)

# One footer read per events directory, cached for the process lifetime —
# the physical ts form is a property of the dataset, not of a query.
_EVENTS_TS_LONG: dict[str, bool] = {}


def events_ts_is_long(spark: SparkSession, sf_dir: str) -> bool:
    """True when ``{sf_dir}/events.parquet`` carries ts as ns-int64
    (legacy feed generation) rather than a native µs timestamp."""
    cached = _EVENTS_TS_LONG.get(sf_dir)
    if cached is None:
        configure_session(spark)  # nanosAsLong must be set before the footer read
        inferred = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        cached = isinstance(inferred["ts"].dataType, T.LongType)
        _EVENTS_TS_LONG[sf_dir] = cached
    return cached


def events_read_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Explicit read schema matching the physical form of events.ts."""
    if events_ts_is_long(spark, sf_dir):
        return _EVENTS_NS_SCHEMA
    return SCHEMAS["events"]


def normalize_events_ts(df: DataFrame, ts_long: bool) -> DataFrame:
    """Bring events.ts to µs TIMESTAMP_NTZ regardless of physical form.

    ns-int64 → truncating div 1000 (identical to DuckDB's ns→µs
    truncation); native µs NTZ needs nothing.
    """
    if ts_long:
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def _one_partition_if_small(df: DataFrame) -> DataFrame:
    """``coalesce(1)`` the events scan when its size fits in one split.

    Spark's bytes-per-core rule cuts even a 2 MB file into one split per
    core and reports `UnknownPartitioning`, so every aggregate, global
    sort, window and join above it plans a shuffle (with AQE, each
    shuffle stage is its own job). A one-partition `CoalesceExec`
    reports `SinglePartition`, which satisfies those operators' required
    distributions, so the dashboard panels over a small feed plan no
    exchange at all. The size is the optimized plan's own statistic
    (file-index bytes), which holds on any storage; a feed above the
    threshold keeps its split scan and its shuffles.

    Only `events`, the hot feed every dashboard refresh re-reads, gets
    this rule. The CPU-heavy operators over documents and embeddings
    size their `operators.util.spread` width from the input's split
    count, which a one-partition scan would collapse to its minimum.

    Measured on a 4-core host with the 4 MB local threshold
    (`session.get_local_spark`), for feeds of about half the threshold
    and just under it; a feed near a 128 MB cluster threshold, and
    hosts with more cores, have not been measured."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    split = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if size <= split:
        return df.coalesce(1)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table with its registered schema (no inference;
    events additionally sniffs one footer to pick its ts form, and is
    read as one partition when it fits in one split:
    `_one_partition_if_small`)."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    configure_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        ts_long = events_ts_is_long(spark, sf_dir)
        df = spark.read.schema(events_read_schema(spark, sf_dir)).parquet(path)
        return normalize_events_ts(_one_partition_if_small(df), ts_long)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for ``spark.sql`` use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
