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


def compact_parquet(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-files compaction: rewrite a Parquet directory into
    ~``target_file_bytes`` files and return the new file count.

    Long-lived ingest (streaming foreachBatch sinks, frequent small
    appends) fragments a table into thousands of tiny files; scan cost
    then goes per-file (footer reads, task scheduling), not per-byte.
    Compaction = read → repartition to ceil(bytes/target) → swap via a
    staging directory.  The repartition is round-robin (no key), so it
    is one shuffle of the table with perfectly balanced output files;
    run it per-partition-directory at 100 TB so each date partition
    compacts independently (and concurrently).

    Swap atomicity: the two-rename swap (path→.old, staging→path) has
    a window where ``path`` does not exist; a crash inside it strands
    the data under ``.old`` (recovery: rename ``.old`` back), and a
    concurrent reader can see ENOENT.  Plain filesystems offer no
    multi-path atomic rename — a table format (Delta/Iceberg) makes
    compaction a metadata swap and is the production answer; this
    helper is for bounded maintenance windows.
    """
    import glob
    import os
    import shutil

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))
    staging = path.rstrip("/") + ".compacting"
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + ".old"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    return n_out


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


def _swap_in(spark, df: DataFrame, path: str) -> None:
    """Write ``df`` to a staging dir and swap it into ``path`` (same
    two-rename window as compact_parquet — see its docstring for the
    atomicity contract; a table format makes this a metadata commit)."""
    import os
    import shutil

    staging = path.rstrip("/") + ".staging"
    df.write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + ".old"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)


def merge_upsert(
    spark, path: str, updates: DataFrame, key: str, evolve_schema: bool = False
) -> None:
    """Copy-on-write MERGE (upsert) on a plain-Parquet table: rows of
    ``updates`` replace same-``key`` target rows, new keys append —
    ``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``
    on a table format.

    Plan: ONE left-anti join of target against the (typically small,
    broadcastable) update set, then a union write — the target is
    scanned once and never shuffled beyond the join.  At 100 TB run
    per partition directory so only touched partitions rewrite
    (copy-on-write amplification is the known cost; MoR/deletion
    vectors are the table-format answer).

    Updates carrying columns the table lacks are rejected unless
    ``evolve_schema=True`` (then kept rows surface NULL for them —
    mergeSchema-style additive evolution); silently dropping them, the
    pre-r12 behavior, read as "stored" to the caller.
    """
    from pyspark.sql import functions as F

    target = spark.read.parquet(path)
    extra = [c for c in updates.columns if c not in target.columns]
    if extra and not evolve_schema:
        raise ValueError(
            f"merge into {path}: updates carry new column(s) {extra};"
            " pass evolve_schema=True to add them, or drop them first"
        )
    kept = target.join(F.broadcast(updates.select(key)), key, "left_anti")
    if extra:
        merged = kept.unionByName(updates, allowMissingColumns=True)
    else:
        merged = kept.unionByName(updates.select(*target.columns))
    _swap_in(spark, merged, path)


def delete_rows(spark, path: str, predicate) -> int:
    """Copy-on-write DELETE on a plain-Parquet table: rewrite without
    the rows matching ``predicate`` (a Column or SQL string) and
    return how many were removed — the right-to-be-forgotten
    primitive.  Derived stores (signature tables, caches) must be
    re-derived or deleted alongside; ``cache.invalidate`` drops the
    session-cached ones.
    """
    from pyspark.sql import functions as F

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # One scan instead of three: count only the MATCHING rows (the
    # filter prunes at the scan), and let _swap_in's rewrite be the
    # single full read.  The old shape paid count-before + count-after
    # + rewrite = 3 full table scans per delete (r10 review).
    target = spark.read.parquet(path)
    n_removed = target.filter(pred).count()
    if n_removed:
        _swap_in(spark, target.filter(~pred | pred.isNull()), path)
    return n_removed
