"""Table catalog over the driver's parquet fixtures.

Explicit, fixed schemas (mirroring the reference's compile-time schemas,
SURVEY.md §1.1) are declared for every table and asserted at load time;
the engine core never relies on schema inference. At 100 TB these
loaders are where partition-discovery and pushdown begin: we hand Spark
the parquet path and a declarative plan so the vectorized reader can
prune columns and row groups (verified by tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from presto_cached_examples_spark.plans.artifacts import bind, memo

TABLES = (
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
)

# Logical schemas (FIXTURES.md). Timestamp physical types vary by table
# (ms vs ns) — Spark reads both as TimestampType at µs precision.
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
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
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
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
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

# Small dimensions that should always be broadcast in joins (their size is
# bounded — region=5 and nation=25 at every sf; the hot-side cache, C1).
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def source_fingerprint(sf_dir: str, name: str) -> str:
    """Short content fingerprint (mtime+size) of a fixture parquet, for
    derived-artifact directory names. Write-once helpers that gate on an
    on-disk ``_SUCCESS`` marker (landed-format copies, evolved
    snapshots) would silently serve STALE data after a fixture
    regeneration — the round-3 NANOS→MICROS lesson — because the marker
    survives in the persistent warehouse while the source changes
    underneath it. Folding the source's stat into the directory name
    makes a regenerated fixture land in a fresh directory instead."""
    import os

    st = os.stat(table_path(sf_dir, name))
    return f"{st.st_mtime_ns:x}_{st.st_size:x}"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Column names are asserted against the
    declared schema; types are left to the parquet footer (the physical
    source of truth) so the vectorized reader stays on the fast path.

    The analyzed relation is a session artifact, the engine analog of a
    metastore's table-descriptor cache. Without it every query BUILD
    re-reads parquet footers on the driver (spark.read.parquet infers
    the schema eagerly) and, for events, re-runs the ts-physical-type
    detection round trips: ~0.15 s of pure driver latency per build.
    DataFrames are immutable, so reusing the analyzed relation changes
    no plan, only skips re-analysis."""
    return memo(spark, sf_dir, ("table", name), lambda: _load_table_uncached(spark, sf_dir, name))


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        df = normalize_events(read_events_stored(spark, sf_dir))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    expected = [f.name for f in SCHEMAS[name].fields]
    if list(df.columns) != expected:
        raise ValueError(f"{name}: columns {df.columns} != declared {expected}")
    return df


def read_events_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture with ts as stored. Fixture generations have
    stored ts as TIMESTAMP(NANOS) or TIMESTAMP(MICROS); set the legacy
    read conf defensively (it is runtime-settable) so a NANOS file reads
    as int64 ns from ANY session, not only ones built by get_session()."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(table_path(sf_dir, "events"))


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize a stored events frame, batch or stream, to the declared
    columns with ts as session-tz TimestampType whatever the footer
    says: int64 ns (NANOS + nanosAsLong) integer-divides to µs —
    identical truncation to DuckDB's ns→µs read; MICROS arrives as
    timestamp/timestamp_ntz and only needs the type unified (the
    session runs UTC, so the cast is wall-clock-identity)."""
    from pyspark.sql import functions as F

    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.select("event_id", "ts", "user_id", "event_type", "value", "props")


#: spread() decision memo, weakly keyed on the input DataFrame (the
#: load_table memo makes those stable objects): the split-count probe
#: converts the plan to an RDD on the driver — tens of ms per query
#: build that repeat invocations shouldn't re-pay. Weak keys mean a
#: dropped DataFrame drops its entry; no stale-identity hazard.
_SPREAD_CACHE: "weakref.WeakKeyDictionary[DataFrame, DataFrame]" = None  # type: ignore[assignment]


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a narrow scan across the cluster for CPU-heavy per-row work.

    Small fixture files arrive as a single input split (one parquet
    row-group), which would serialize expensive per-row expressions
    (shingling, minhash, simhash votes) onto one core. When the scan's
    parallelism is below the session's, insert one round-robin
    repartition; at production scale the scan's natural split count far
    exceeds the core count and this is a no-op — no shuffle is added on
    the 100 TB path.
    """
    global _SPREAD_CACHE
    if _SPREAD_CACHE is None:
        import weakref

        _SPREAD_CACHE = weakref.WeakKeyDictionary()
    got = _SPREAD_CACHE.get(df)
    if got is not None:
        return got
    cores = spark.sparkContext.defaultParallelism
    out = df.repartition(cores) if df.rdd.getNumPartitions() < cores else df
    _SPREAD_CACHE[df] = out
    return out


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Bind every fixture table of ``sf_dir`` to a session temp view of
    its own name: the one binder for queries that Spark SQL runs from
    their oracle text (``registry.register_sql``).

    Each view is the ``load_table`` relation, so SQL reads the same
    normalized columns a builder does. The session records the bound
    directory (``artifacts.bind``), and a build at an unchanged
    ``sf_dir`` registers nothing: one ``createOrReplaceTempView`` costs
    several milliseconds of driver round trips, and the ten views cost
    about a tenth of a second (NOTES.md has the measurements)."""

    def register() -> None:
        for name in TABLES:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)

    bind(spark, sf_dir, register)
