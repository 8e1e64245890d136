"""Sinks: partitioned/bucketed Parquet writers.

The reference's only sink is a result set to the client (SURVEY §2.1
S6).  At 100 TB the engine's fact tables live date-partitioned (and
optionally bucketed by join key) so partition pruning and storage-
partitioned joins kick in; these helpers encode that layout policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_result(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Plain Parquet result sink."""
    df.write.mode(mode).parquet(path)


def write_fact_by_date(
    df: DataFrame, path: str, ts_col: str, mode: str = "overwrite"
) -> None:
    """Date-partitioned fact layout: one directory per day.

    Downstream scans filtered on the date (e.g. the churn anchor
    windows) prune partitions statically; joins against a date
    dimension prune dynamically (DPP).
    """
    (
        df.withColumn("_date", F.to_date(F.col(ts_col)))
        .write.mode(mode)
        .partitionBy("_date")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: "str | list[str]",
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates both sides of a recurring
    equi-join (e.g. lineitem/orders on the order key) so the join
    becomes shuffle-free (storage-partitioned).  ``bucket_col`` may be
    a list when the recurring join is multi-key — the bucket spec must
    match the join keys exactly for Spark to keep the bucketed scan
    (a partial match makes the planner fall back to a shuffled join).
    """
    cols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, cols[0], *cols[1:])
        .sortBy(cols[0], *cols[1:])
        .saveAsTable(table_name)
    )


def append_evolved(df: DataFrame, path: str) -> None:
    """Append a batch whose schema is a superset of the existing
    files' — the storage-level half of ``ALTER TABLE ... ADD COLUMN``
    (ref SQL_file.sql:649-650) on plain Parquet: old files simply
    lack the new column.  Pair with :func:`read_evolved`."""
    df.write.mode("append").parquet(path)


def read_evolved(spark, path: str) -> DataFrame:
    """Read a Parquet directory written across schema versions with
    ``mergeSchema``: the unified schema is the union of all file
    schemas and pre-evolution rows surface NULL for added columns —
    the same contract a warehouse ALTER TABLE ADD COLUMN gives
    readers.  (A table format — Delta/Iceberg — would additionally
    version the metadata; none ships in this container, so the
    evolution contract is exercised at the Parquet layer.)"""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_sorted_by(
    df: DataFrame, path: str, col: str, n_files: int = 8, mode: str = "overwrite"
) -> None:
    """Range-partitioned, per-file-sorted layout on ``col`` — the
    clustering policy that makes Parquet min/max row-group statistics
    selective (z-order-lite for a single key).

    ``repartitionByRange`` gives each output file a disjoint value
    range; ``sortWithinPartitions`` orders rows inside, so every row
    group's [min, max] span is narrow and a reader's pushed predicate
    (`col = k` / `col BETWEEN a AND b`) skips all but the matching
    groups at footer level — no data pages read.  At 100 TB this is
    the difference between scanning one file and scanning all of them
    for a point lookup; layout is verified structurally in
    test_engine_api (footer stats, engine-independent)."""
    (
        df.repartitionByRange(n_files, col)
        .sortWithinPartitions(col)
        .write.mode(mode)
        .parquet(path)
    )
