"""Session + catalog layer.

The reference binds a session to the ``chinook`` MySQL database
(``SQL_file.sql:1``) and scans 7 base tables plus one named view.  Here
the equivalent is a SparkSession whose catalog is populated with temp
views over the driver-generated Parquet tables (TESTDATA.md), so every
query can run either through the DataFrame API or ``spark.sql``.

Scale notes (100 TB design point):
  * AQE is enabled — runtime coalescing of shuffle partitions, skew-join
    splitting, and dynamic broadcast conversion are the main levers that
    keep the same logical plans healthy at 1000 executors.
  * ``spark.sql.shuffle.partitions`` equals the core count
    (``$SPARK_GRAFT_CPUS``, default: the cores this process may run on),
    so a local session has one reduce task per slot; on a real cluster
    it should be ~2-3x total cores (AQE coalesces down).
  * Facts (``orders``/``lineitem``/``events``) would be date-partitioned
    and bucketed by join key at scale; the loaders read plain Parquet
    directories, which is layout-agnostic — partition pruning kicks in
    automatically when the underlying layout is partitioned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

from ..cache import memo, table_files

#: Every table the driver generates (TESTDATA.md).
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Entries of the JVM's compiled-class cache
#: (``spark.sql.codegen.cache.maxEntries``, Spark's default 100), which
#: maps generated Java source to its compiled class.  It evicts in LRU
#: order, so a cyclic workload whose working set exceeds it misses on
#: nearly every lookup and recompiles.  MEASURED on local[4], one cold
#: pass over all 169 registered queries in one session: 1877 distinct
#: classes at both sf0.01 and sf0.1.  One pass of the perfbench olap
#: and corpus queries alone needs 96 and 105, and their stream drains
#: add more, so the default evicted within one pass.  4096 keeps
#: >= 1.5x the larger count.  At sf0.1 the warm pass went from 2125
#: recompiles in 98.7 s to 0 in 76.9 s, for 205 MB of metaspace
#: instead of 192 MB.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "chinook-spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Config is chosen for local[N] testing but mirrors what a cluster
    deployment would set: AQE on, Arrow on for any Pandas-UDF path,
    UTC session timezone for deterministic date math.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE partition coalescing settings, MEASURED
        # (r12, guide §2.2 / OPTIMIZATION_r12.md): parallelismFirst
        # stays at Spark's default TRUE.  The byte-respecting variant
        # (false + 64 MB advisory) was swept against it over 16
        # representative queries at sf0.1: it wins nothing the default
        # doesn't already coalesce (tiny shuffles hit the 1 MB floor
        # and collapse either way) and costs 1.5-2.5x on CPU-dense,
        # byte-light reduce stages (s04's rid-window self-join, q06's
        # two-stage agg) by squeezing them to 1 task.  On a cluster
        # whose shuffles are TB-sized the two settings converge
        # (bytes/parallelism >> advisory), so the default is also the
        # scale-correct choice.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # A static conf: it sizes the JVM-wide cache when it is built.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Keep the whole-stage codegen stage id out of the class name,
        # so out of the cache key: AQE numbers stages in the order they
        # materialize, which varies run to run, and each new number
        # recompiled an otherwise identical class.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # events.parquet stores TIMESTAMP(NANOS); Spark's reader has no
        # nanos timestamp type — read as long and convert on load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions not built by get_spark
    (e.g. the driver's own session): nanos-timestamp parquet support
    and a UTC session timezone (collected timestamps must not shift
    against the timezone-naive DuckDB oracle).  The codegen class
    cache size (:data:`CODEGEN_CACHE_ENTRIES`) is a static conf that
    only a builder can set, so such a session keeps Spark's 100 and
    recompiles on warm passes whose working set exceeds it."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down (e.g. Spark Connect policy) — proceed


def _load_one(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The parquet read of one corpus table under its
    :func:`table_schema`, memoized in the session cache: each read
    re-lists the path through py4j (~15-40 ms per table per build).
    The DataFrame is a lazy plan, so every action still scans the
    files, and a rewritten corpus is a new snapshot and reloads."""

    def read() -> DataFrame:
        schema = table_schema(spark, sf_dir, name)
        df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
        return _normalize_event_ts(df) if name == "events" else df

    return memo(f"read:{name}", spark, sf_dir, read)


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema of one corpus table as stored (events.ts before
    :func:`_normalize_event_ts`), memoized in the session cache.

    It is read on the driver from the footer of the table's first data
    file (:func:`cache.table_files` order) with Spark's own converter,
    as the inferring read does without its schema job (one per table).
    Columns are nullable, as a file source reads them.  A partitioned
    directory's footer lacks the partition columns: partition discovery
    still adds them to a read under this schema.  A rewritten corpus is
    a new snapshot and re-reads it."""

    def read() -> StructType:
        path = f"{sf_dir}/{name}.parquet"
        first = table_files(path)[0][0]
        jvm, jsession = spark._jvm, spark._jsparkSession
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        file = jvm.org.apache.hadoop.fs.Path(f"{path}/{first}" if first else path)
        footer = parquet.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                file, jsession.sessionState().newHadoopConf()
            ),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(file, footer),
            parquet.ParquetToSparkSchemaConverter(jsession.sessionState().conf()),
        )
        return _parse_datatype_json_string(schema.asNullable().json())

    return memo(f"schema:{name}", spark, sf_dir, read)


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Map events.ts to a timestamp regardless of the generator's
    physical type: older datasets store nanos-since-epoch longs
    (surfaced via the nanosAsLong conf), newer ones a native
    timestamp[us] that Spark reads as TIMESTAMP_NTZ.  Both normalize
    to TimestampType: the long path divides to micros losslessly (the
    generator's values are microsecond-grained); the NTZ path is a
    wall-clock-preserving cast under the UTC session timezone.
    TimestampType (not NTZ) is required for streaming watermarks and
    matches what timestamp_micros produced for the round-1 data, so
    every downstream plan and oracle is type-stable across generator
    versions."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


class _Tables(dict):
    """Lazy table map: reads a Parquet footer only when a query actually
    touches that table (keeps per-query planning minimal)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __missing__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(name)
        df = _load_one(self._spark, self._sf_dir, name)
        self[name] = df
        return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Lazy map of every driver table, keyed by name.

    Reads are lazy in both senses: the footer is read on first access,
    and Catalyst prunes columns / pushes filters into the Parquet scan
    per consuming query.
    """
    ensure_session_confs(spark)
    return _Tables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (the ``use chinook`` analog).

    Also registers the engine's named derived view
    ``nation0_type_sales`` — the analog of the reference's
    ``usa_genre_sales`` view (SQL_file.sql:148-165) — so SQL-entry
    queries can consume it like a catalog object.
    """
    dfs = load_tables(spark, sf_dir)
    # A table set may be PARTIAL (a mounted Chinook directory holds 7 of
    # the 10 corpus tables): register what exists — a query over an
    # absent table fails at its own call with a missing-view message.
    present = [t for t in TABLES if os.path.exists(f"{sf_dir}/{t}.parquet")]
    for name in present:
        dfs[name].createOrReplaceTempView(name)
    # Deferred import: plans depends on functions only.
    from ..plans.views import nation0_type_sales

    if {"customer", "orders", "lineitem", "part", "nation"} <= set(present):
        nation0_type_sales(spark, sf_dir).createOrReplaceTempView(
            "nation0_type_sales"
        )
    return dfs
