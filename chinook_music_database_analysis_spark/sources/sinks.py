"""Sinks: partitioned/bucketed Parquet writers.

The reference's only sink is a result set to the client (SURVEY §2.1
S6).  At 100 TB the engine's fact tables live date-partitioned (and
optionally bucketed by join key) so partition pruning and storage-
partitioned joins kick in; these helpers encode that layout policy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_result(df: DataFrame, path: str) -> None:
    """Plain Parquet result sink."""
    df.write.mode("overwrite").parquet(path)


def write_fact_by_date(df: DataFrame, path: str, ts_col: str) -> None:
    """Date-partitioned fact layout: one directory per day.

    Downstream scans filtered on the date (e.g. the churn anchor
    windows) prune partitions statically; joins against a date
    dimension prune dynamically (DPP).
    """
    (
        df.withColumn("_date", F.to_date(F.col(ts_col)))
        .write.mode("overwrite")
        .partitionBy("_date")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: "str | list[str]",
    n_buckets: int = 32,
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
        df.write.mode("overwrite")
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


def _write_range_clustered(
    df: DataFrame,
    path: str,
    key: Column | None,
    n_tasks: int,
    part_col: str | None = None,
) -> None:
    """The one range-clustered Parquet write behind
    :func:`write_sorted_by` and the z-order writers (operators/layout):
    add the clustering ``key`` as a column, range-partition ``n_tasks``
    ways on (``part_col``, key), sort within partitions, drop the key,
    write (Hive-partitioned on ``part_col`` when given).  Each task
    then holds a disjoint key range, so every row group's [min, max]
    is narrow.  ``key=None`` — nothing to cluster on (empty input, an
    all-NULL key) — writes ``df`` unclustered."""
    lead = [part_col] if part_col else []
    if key is not None:
        df = (
            df.withColumn("_k", key)
            .repartitionByRange(n_tasks, *lead, "_k")
            .sortWithinPartitions(*lead, "_k")
            .drop("_k")
        )
    writer = df.write.mode("overwrite")
    if part_col:
        writer = writer.partitionBy(part_col)
    writer.parquet(path)


def write_sorted_by(df: DataFrame, path: str, col: str, n_files: int = 8) -> None:
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
    _write_range_clustered(df, path, F.col(col), n_files)
