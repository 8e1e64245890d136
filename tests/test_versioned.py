"""Snapshot-versioned tables: atomic publish, time travel, crash
safety, snapshot compaction, vacuum retention."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chinook_music_database_analysis_spark.sources.versioned import (
    compact_snapshot,
    current_version,
    read_snapshot,
    vacuum,
    write_snapshot,
)

from conftest import SF_TEST_DIR


@pytest.fixture()
def nation(spark):
    return spark.read.parquet(f"{SF_TEST_DIR}/nation.parquet")


def test_snapshot_publish_and_time_travel(spark, nation, tmp_path):
    t = str(tmp_path / "t")
    v1 = write_snapshot(nation, t)
    v2 = write_snapshot(nation.filter(F.col("n_nationkey") < 10), t)
    assert (v1, v2) == (1, 2) and current_version(t) == 2
    # latest read sees v2; time travel sees the full v1
    assert read_snapshot(spark, t).count() == 10
    assert read_snapshot(spark, t, version=1).count() == nation.count()


def test_snapshot_crash_before_publish_is_invisible(spark, nation, tmp_path):
    """A writer that dies after the data write but before the pointer
    swap must leave readers on the old snapshot — orphan data is
    garbage, never corruption."""
    t = str(tmp_path / "t")
    write_snapshot(nation, t)
    # simulate the crash: data directory appears, pointer never moves
    nation.limit(3).write.parquet(os.path.join(t, "v=2"))
    assert current_version(t) == 1
    assert read_snapshot(spark, t).count() == nation.count()
    # the next successful writer allocates PAST the orphan (no clobber)
    v = write_snapshot(nation.limit(5), t)
    assert v == 3 and read_snapshot(spark, t).count() == 5


def test_snapshot_compaction_preserves_rows_and_old_reader(spark, nation, tmp_path):
    t = str(tmp_path / "t")
    fragmented = nation.repartition(8)
    v1 = write_snapshot(fragmented, t)
    v2 = compact_snapshot(spark, t)
    assert v2 == v1 + 1
    import glob

    n_before = len(glob.glob(os.path.join(t, f"v={v1}", "*.parquet")))
    n_after = len(glob.glob(os.path.join(t, f"v={v2}", "*.parquet")))
    assert n_after < n_before
    a = sorted(map(tuple, read_snapshot(spark, t).collect()))
    b = sorted(map(tuple, read_snapshot(spark, t, version=v1).collect()))
    assert a == b  # byte-identical rows; the old snapshot still reads


def test_vacuum_retains_published_and_recent(spark, nation, tmp_path):
    t = str(tmp_path / "t")
    for k in (1, 2, 3, 4):
        write_snapshot(nation.limit(k), t)
    removed = vacuum(t, keep=2)
    assert removed == [1, 2]
    assert read_snapshot(spark, t).count() == 4
    assert read_snapshot(spark, t, version=3).count() == 3
    with pytest.raises(Exception):
        read_snapshot(spark, t, version=1).count()


def test_snapshot_schema_enforcement(spark, nation, tmp_path):
    """Dropping or retyping a published column is rejected before any
    data is written; adding a column is legal additive evolution."""
    from chinook_music_database_analysis_spark.sources.versioned import (
        SchemaEvolutionError,
    )

    t = str(tmp_path / "t")
    write_snapshot(nation, t)
    with pytest.raises(SchemaEvolutionError, match="dropped column"):
        write_snapshot(nation.drop("n_name"), t)
    with pytest.raises(SchemaEvolutionError, match="changed type"):
        write_snapshot(
            nation.withColumn("n_nationkey", F.col("n_nationkey").cast("string")), t
        )
    # the failed attempts published nothing
    assert current_version(t) == 1
    # additive column is fine, and old readers still work
    v = write_snapshot(nation.withColumn("extra", F.lit(1)), t)
    assert v == 2
    assert "extra" in read_snapshot(spark, t).columns
    assert "extra" not in read_snapshot(spark, t, version=1).columns


def test_file_provenance_metadata_column(spark, nation, tmp_path):
    """Row-level provenance via the hidden _metadata column: every row
    of a published snapshot reports the physical file it came from —
    the lineage hook audit pipelines attach to quarantine or re-derive
    subsets without a separate manifest."""
    t = str(tmp_path / "t")
    v = write_snapshot(nation.repartition(3), t)
    rows = (
        read_snapshot(spark, t)
        .select("n_nationkey", F.col("_metadata.file_path").alias("src"))
        .collect()
    )
    assert len(rows) == nation.count()
    assert all(f"v={v}" in r["src"] and r["src"].endswith(".parquet") for r in rows)
    assert len({r["src"] for r in rows}) >= 2  # provenance distinguishes files


def test_merge_and_delete_as_snapshots(spark, nation, tmp_path):
    from chinook_music_database_analysis_spark.sources.versioned import (
        delete_snapshot_rows,
        merge_snapshot,
    )

    t = str(tmp_path / "t")
    write_snapshot(nation, t)
    updates = nation.filter(F.col("n_nationkey") < 2).withColumn(
        "n_name", F.lit("RENAMED")
    )
    # one unmatched key: the merge inserts it
    updates = updates.unionByName(
        updates.filter(F.col("n_nationkey") == 0).withColumn("n_nationkey", F.lit(999))
    )
    v2 = merge_snapshot(spark, t, updates, "n_nationkey")
    cur = read_snapshot(spark, t)
    assert cur.count() == nation.count() + 1
    assert cur.filter(F.col("n_name") == "RENAMED").count() == 3
    assert cur.filter(F.col("n_nationkey") == 999).count() == 1
    # pre-merge state retained for audit/time travel
    assert read_snapshot(spark, t, version=v2 - 1).filter(
        F.col("n_name") == "RENAMED"
    ).count() == 0
    v3 = delete_snapshot_rows(spark, t, "n_nationkey >= 20")
    assert read_snapshot(spark, t).count() == 20
    assert read_snapshot(spark, t, version=v3 - 1).count() == nation.count() + 1


def test_streaming_snapshot_sink_appends_versions(spark, tmp_path):
    from chinook_music_database_analysis_spark.sources.versioned import (
        start_snapshot_sink,
    )
    from chinook_music_database_analysis_spark.streaming.events import (
        read_events_stream,
    )

    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    src = read_events_stream(spark, SF_TEST_DIR).select("event_id", "user_id", "value")
    q = start_snapshot_sink(src, t, ckpt)
    q.awaitTermination()
    n_src = spark.read.parquet(f"{SF_TEST_DIR}/events.parquet").count()
    assert read_snapshot(spark, t).count() == n_src
    # restart from the committed checkpoint publishes nothing new
    v_before = current_version(t)
    q2 = start_snapshot_sink(src, t, ckpt)
    q2.awaitTermination()
    assert current_version(t) == v_before
    assert read_snapshot(spark, t).count() == n_src


def test_delete_snapshot_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: only predicate-TRUE rows go; rows where
    the predicate is NULL stay (r10 review — ~cond alone silently
    deleted NULL-predicate rows along with the matches)."""
    from chinook_music_database_analysis_spark.sources.versioned import (
        delete_snapshot_rows,
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "DE"), (2, None), (3, "US"), (4, None)], "id int, country string"
    )
    write_snapshot(df, t)
    delete_snapshot_rows(spark, t, "country = 'DE'")
    left = {r.id for r in read_snapshot(spark, t).collect()}
    assert left == {2, 3, 4}  # NULL-country rows survive


def test_snapshot_sink_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the pointer swap
    but before Spark's checkpoint commit re-delivers the same batch.
    The version's recorded batch id must make that replay a no-op —
    blindly unioning doubled every row of the batch (r10 review)."""
    from chinook_music_database_analysis_spark.sources.versioned import (
        current_version,
        read_snapshot,
        version_batch_id,
        write_snapshot,
    )

    t = str(tmp_path / "t")
    b0 = spark.createDataFrame([(1,), (2,)], "id int")
    b1 = spark.createDataFrame([(3,), (4,)], "id int")

    # simulate the sink's _deliver for batches 0, 1, then a replay of 1
    def deliver(df, batch_id):
        cur = current_version(t)
        if cur is not None and version_batch_id(t, cur) == batch_id:
            return
        if cur is None:
            write_snapshot(df, t, batch_marker=batch_id)
        else:
            write_snapshot(
                read_snapshot(spark, t).unionByName(df), t, batch_marker=batch_id
            )

    deliver(b0, 0)
    deliver(b1, 1)
    v = current_version(t)
    deliver(b1, 1)  # replay: must change nothing
    assert current_version(t) == v
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [1, 2, 3, 4]

    # r12 review: compaction is content-identical, so it must carry the
    # source version's batch marker forward — otherwise a compaction
    # inside the crash window erases the marker and the replay guard
    # above unions the batch in twice.
    from chinook_music_database_analysis_spark.sources.versioned import (
        compact_snapshot,
    )

    v2 = compact_snapshot(spark, t)
    assert version_batch_id(t, v2) == 1
    deliver(b1, 1)  # replay AFTER compaction: still a no-op
    assert current_version(t) == v2
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [1, 2, 3, 4]


def test_merge_schema_evolution_explicit(spark, tmp_path):
    """r12 review: a merge whose updates carry a NEW column must either
    be rejected (default — the old behavior silently dropped the
    column, which reads as 'stored') or, with evolve_schema=True,
    publish the column additively with NULL for untouched rows."""
    import pytest

    from chinook_music_database_analysis_spark.sources.versioned import (
        SchemaEvolutionError,
        merge_snapshot,
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "t")
    write_snapshot(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), t)
    upd = spark.createDataFrame([(2, "B", 9.5)], "id int, v string, score double")

    with pytest.raises(SchemaEvolutionError, match="score"):
        merge_snapshot(spark, t, upd, "id")

    merge_snapshot(spark, t, upd, "id", evolve_schema=True)
    rows = {r.id: (r.v, r.score) for r in read_snapshot(spark, t).collect()}
    assert rows == {1: ("a", None), 2: ("B", 9.5)}
    # and the published version passes write_snapshot's own additive
    # check for the NEXT write (the evolved schema is the contract now)
    write_snapshot(
        spark.createDataFrame([(3, "c", 1.0)], "id int, v string, score double"), t
    )
