"""Snapshot-versioned Parquet tables: atomic publishes + time travel.

Rewriting a plain Parquet directory in place (a two-rename swap) has a
window where the table path does not exist.  This module is the
engine's one compaction / MERGE / DELETE path and has no such window:
it uses the mechanism real table formats (Delta, Iceberg) use —
**immutable version directories plus one atomically-swapped
pointer**:

- every write lands in a fresh ``v=N/`` directory (never mutated),
- readers resolve the current version through a ``_LATEST`` pointer
  file,
- publishing = writing the pointer to a temp name and ``os.replace``
  (atomic on POSIX) — a reader sees the old snapshot or the new one,
  never a partial table, and a crash before publish leaves the table
  exactly as it was (the orphan directory is garbage, not corruption).

This also yields **time travel** (read any retained version) and
**non-disruptive compaction** (rewrite into a new version; readers of
the old one are undisturbed; ``vacuum`` reclaims old versions once
their retention lapses).

At 100 TB the pointer lives on an object store and the swap becomes a
conditional PUT (or a metastore/catalog transaction); the version
directories are unchanged.  Concurrent WRITERS need the conditional
swap to detect lost updates — single-writer-at-a-time is this
module's contract, as it is for plain-Parquet pipelines generally.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..streaming.sinks import start_batch_sink

_POINTER = "_LATEST"


def _pointer_path(table_dir: str) -> str:
    return os.path.join(table_dir, _POINTER)


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v={version}")


def current_version(table_dir: str) -> int | None:
    """Published version, or None for an empty/unpublished table."""
    try:
        with open(_pointer_path(table_dir)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def _existing_versions(table_dir: str) -> list[int]:
    try:
        names = os.listdir(table_dir)
    except OSError:
        return []
    out = []
    for n in names:
        if n.startswith("v="):
            try:
                out.append(int(n[2:]))
            except ValueError:
                pass
    return sorted(out)


class SchemaEvolutionError(ValueError):
    """Raised when a snapshot write would break the table contract."""


def _check_evolution(df: DataFrame, table_dir: str, published: int) -> None:
    """Additive-evolution contract (the ALTER TABLE ADD COLUMN rule a
    table format enforces in metadata): every published column must
    survive with an identical type; NEW columns are allowed (readers
    of old versions simply lack them, exactly like parquet
    mergeSchema evolution in sinks.read_evolved)."""
    spark = df.sparkSession
    old = spark.read.parquet(_version_dir(table_dir, published)).schema
    new = {f.name: f.dataType for f in df.schema.fields}
    problems = []
    for f in old.fields:
        if f.name not in new:
            problems.append(f"dropped column {f.name!r}")
        elif new[f.name] != f.dataType:
            problems.append(
                f"column {f.name!r} changed type {f.dataType.simpleString()}"
                f" -> {new[f.name].simpleString()}"
            )
    if problems:
        raise SchemaEvolutionError(
            f"incompatible snapshot schema for {table_dir}: " + "; ".join(problems)
        )


#: per-version marker recording which streaming batch produced it —
#: written INSIDE the version directory before the pointer swap, so
#: the marker and the data publish atomically together.
_BATCH_MARKER = "_BATCH_ID"


def version_batch_id(table_dir: str, version: int) -> int | None:
    """The streaming batch id recorded for ``version``, or None for
    snapshots not produced by the streaming sink."""
    try:
        with open(os.path.join(_version_dir(table_dir, version), _BATCH_MARKER)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    enforce_schema: bool = True,
    batch_marker: int | None = None,
) -> int:
    """Write ``df`` as the table's next snapshot and publish it
    atomically; returns the new version number.

    With ``enforce_schema`` (default), the write is rejected BEFORE
    any data lands if it would drop or retype a published column —
    the metadata-level guard that stops one bad job from publishing a
    reader-breaking snapshot; additive columns pass.

    The data write is the expensive distributed part and happens into
    an unpublished directory — any failure there leaves the current
    snapshot untouched.  Publish is a single driver-side atomic
    rename of the pointer.  ``batch_marker`` (the streaming sink's
    batch id) lands inside the version directory BEFORE the pointer
    swap, so "which batch produced the published version" is exactly
    as atomic as the publish itself — the idempotence handle
    start_snapshot_sink replays against."""
    os.makedirs(table_dir, exist_ok=True)
    versions = _existing_versions(table_dir)
    published = current_version(table_dir)
    if enforce_schema and published is not None:
        _check_evolution(df, table_dir, published)
    version = (versions[-1] + 1) if versions else 1
    df.write.mode("errorifexists").parquet(_version_dir(table_dir, version))
    if batch_marker is not None:
        with open(
            os.path.join(_version_dir(table_dir, version), _BATCH_MARKER), "w"
        ) as fh:
            fh.write(str(int(batch_marker)))
            fh.flush()
            os.fsync(fh.fileno())
    tmp = _pointer_path(table_dir) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(version))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _pointer_path(table_dir))
    return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the published snapshot (or a retained historical
    ``version`` — time travel)."""
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published snapshot under {table_dir}")
    return spark.read.parquet(_version_dir(table_dir, v))


def compact_snapshot(spark: SparkSession, table_dir: str) -> int:
    """Compaction as a snapshot operation: rewrite the CURRENT version
    into ~128 MiB files as a NEW version and publish.  No reader
    ever sees a missing or half-written table — the in-place swap's
    atomicity window does not exist here; rows are byte-identical
    (verified in tests)."""
    import glob

    v = current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no published snapshot under {table_dir}")
    src = _version_dir(table_dir, v)
    files = glob.glob(os.path.join(src, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // (128 * 1024 * 1024)))
    compacted = spark.read.parquet(src).repartition(n_out)
    # Propagate the batch marker: compaction is content-identical, so
    # the compacted version still "is" the batch that produced its
    # source.  Without this, a compaction run inside the streaming
    # sink's crash window (pointer swapped, checkpoint not yet
    # committed) erases the marker the replay guard checks, and the
    # replayed batch would union itself in twice (r12 review).  MERGE/
    # DELETE intentionally do NOT propagate: they change content, so a
    # replay onto them is genuinely ambiguous and at-least-once
    # re-delivery is the safer failure.
    return write_snapshot(
        compacted, table_dir, batch_marker=version_batch_id(table_dir, v)
    )


def vacuum(table_dir: str, keep: int = 2) -> list[int]:
    """Delete retired version directories, retaining the newest
    ``keep`` (the published version is always retained).  Returns the
    versions removed.  Run on the maintenance cadence after readers'
    retention horizon."""
    versions = _existing_versions(table_dir)
    published = current_version(table_dir)
    retain = set(versions[-keep:]) if keep > 0 else set()
    if published is not None:
        retain.add(published)
    removed = []
    for v in versions:
        if v not in retain:
            shutil.rmtree(_version_dir(table_dir, v))
            removed.append(v)
    return removed


def merge_snapshot(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str,
    evolve_schema: bool = False,
) -> int:
    """MERGE (upsert) as a snapshot operation: same-key rows replaced,
    new keys inserted, published as a NEW version — a copy-on-write
    plan (one anti-join against the broadcast update set, one union
    write) with the atomic-publish and time-travel guarantees
    on top: readers switch whole-merge-or-nothing, and the pre-merge
    state stays readable until vacuumed.

    Updates carrying columns the table lacks are REJECTED by default —
    the old ``select(*target.columns)`` silently dropped them, which
    reads as "stored" to the caller (r12 review).  Pass
    ``evolve_schema=True`` for the Delta-mergeSchema behavior: the new
    columns publish with the merge and pre-merge rows surface NULL for
    them (the same additive contract write_snapshot enforces)."""
    from pyspark.sql import functions as F

    target = read_snapshot(spark, table_dir)
    extra = [c for c in updates.columns if c not in target.columns]
    if extra and not evolve_schema:
        raise SchemaEvolutionError(
            f"merge into {table_dir}: updates carry new column(s) {extra};"
            " pass evolve_schema=True to add them, or drop them first"
        )
    kept = target.join(F.broadcast(updates.select(key)), key, "left_anti")
    if extra:
        merged = kept.unionByName(updates, allowMissingColumns=True)
    else:
        merged = kept.unionByName(updates.select(*target.columns))
    return write_snapshot(merged, table_dir)


def delete_snapshot_rows(
    spark: SparkSession, table_dir: str, predicate
) -> int:
    """Predicate DELETE as a snapshot operation (the right-to-be-
    forgotten primitive with an audit trail: the new version lacks the
    rows, retired versions hold them until ``vacuum`` — which IS the
    actual erasure step, so schedule it by the deletion SLA)."""
    from pyspark.sql import functions as F

    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    target = read_snapshot(spark, table_dir)
    # SQL DELETE keeps rows where the predicate is NULL (only
    # predicate-TRUE rows go); plain ~cond drops NULL-predicate rows
    # too — silent data loss on any nullable column.
    return write_snapshot(target.filter(~cond | cond.isNull()), table_dir)


def start_snapshot_sink(stream: DataFrame, table_dir: str, checkpoint_dir: str):
    """Streaming delivery into a versioned table: every micro-batch
    publishes one snapshot version (append semantics: batch rows union
    the previous snapshot).  Readers always see a complete, committed
    prefix of the stream — never a half-written batch — and can time-
    travel to any retained batch boundary.

    Replay idempotence (r10 review): foreachBatch is at-least-once, and
    a crash AFTER the pointer swap but BEFORE Spark commits the batch
    to its checkpoint re-delivers the same batch — blindly unioning it
    onto a snapshot that already contains it would double every row.
    Each version therefore records the batch id that produced it (a
    marker inside the version dir, atomic with the publish); a replay
    whose batch id matches the CURRENT version's marker is a no-op.  A
    crash BEFORE the pointer swap leaves an orphan version directory —
    garbage, not corruption — and the replay publishes a fresh one."""

    def _deliver(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        current = current_version(table_dir)
        if current is not None and version_batch_id(table_dir, current) == int(
            batch_id
        ):
            return  # replay of the batch that produced the current version
        if current is None:
            write_snapshot(df, table_dir, batch_marker=int(batch_id))
        else:
            write_snapshot(
                read_snapshot(spark, table_dir).unionByName(df),
                table_dir,
                batch_marker=int(batch_id),
            )

    return start_batch_sink(stream, _deliver, checkpoint_dir)
