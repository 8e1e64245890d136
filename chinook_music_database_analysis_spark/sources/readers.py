"""Source connectors beyond Parquet.

The reference's physical source is a MySQL database (``use chinook``,
ref /root/reference/SQL_file.sql:1).  The engine's equivalents:

* **JDBC** — the direct analog; predicate pushdown and partitioned
  reads (`partitionColumn`/`numPartitions`) parallelize the extract.
  No database server exists in this container, so the function builds
  the reader but cannot be exercised in tests here.
* **CSV / JSON / ORC / Parquet** — file-based loads with explicit
  schemas (never inference in production paths — money must stay
  typed); the columnar formats get vectorized scans with filter
  pushdown and column pruning.

All readers return plain DataFrames; an adapted source joins the
registry by being written as a table directory
(``{sf_dir}/{table}.parquet``), exactly as the Chinook adapter's
``mount_chinook`` does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """Partitioned JDBC read (the MySQL-source analog).

    With ``partition_column`` bounds, Spark issues ``num_partitions``
    range-predicated queries in parallel; Catalyst pushes filters and
    column pruning into the remote SQL.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # str(None) would reach the JDBC relation as the literal
            # 'None' and die deep in Java number parsing at load();
            # fail fast with the actual mistake instead (r10 review).
            raise ValueError(
                "read_jdbc: partition_column requires lower_bound and "
                "upper_bound"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    """Schema-pinned CSV load (no inference — types are part of the
    contract, SURVEY §1.2)."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """Schema-pinned JSON-lines load."""
    return spark.read.schema(schema).json(path)


def read_orc(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """ORC load — the other columnar format warehouses hand over.

    Spark's native vectorized ORC reader gives the same pushdown/
    pruning behavior as Parquet (`PushedFilters` reaches the scan).
    Schema optional: ORC embeds types, but passing one pins the
    contract just like the other readers.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_json_quarantine(
    spark: SparkSession, path: str, schema: StructType | str
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """Malformed-tolerant JSON-lines load: returns (good, bad, raw).

    PERMISSIVE mode parses what it can and lands unparseable lines in
    a ``_corrupt_record`` column instead of failing the job — at 100 TB
    a handful of broken records must never kill a multi-hour ingest
    (FAILFAST) or vanish silently (DROPMALFORMED).  ``good`` carries
    the schema columns for clean rows; ``bad`` carries the raw corrupt
    line for a quarantine sink + replay.  Caveat encoded here: Spark
    requires the corrupt-record column in the read schema, and a
    corrupt-only query over it must cache/materialize (Spark refuses
    raw-column-only filters on an uncached permissive read).

    ``raw`` is the CACHED root both splits are views of, returned so
    the caller can release executor storage (``raw.unpersist()``)
    once the split is consumed — unpersisting a derived view is a
    silent no-op, and before r12 the cache root wasn't reachable at
    all, so every quarantine load leaked its cache for the session.
    Unpersist only after consuming: an uncached ``bad`` re-read is
    exactly the raw-column-only scan Spark refuses.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructType as ST

    # fromDDL turns the DDL string into a StructType with no I/O; the
    # old spark.read.schema(...).json(path).schema round-trip built a
    # whole reader (path listing included) just to parse the string.
    base = ST.fromDDL(schema) if isinstance(schema, str) else schema
    with_corrupt = ST(list(base.fields)).add("_corrupt_record", StringType())
    df = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    return good, bad, df
