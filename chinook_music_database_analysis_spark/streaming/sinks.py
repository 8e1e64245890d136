"""Streaming sinks: exactly-once parquet delivery via foreachBatch.

Structured Streaming's checkpoint guarantees each micro-batch id is
processed at-least-once; turning that into effective exactly-once
delivery on a plain-file sink is the sink's job, and the standard
recipe is **idempotent batch writes**: route every micro-batch to a
``batch_id=N`` subdirectory with ``overwrite`` mode.  A batch replayed
after a failure (or a restarted query re-running its last uncommitted
batch) overwrites its own directory instead of appending duplicates,
so downstream readers of the directory tree see each input row exactly
once.  This is the same idempotence contract Delta's ``txnVersion``
encodes, expressed at the Parquet layer available in this container.

At 100 TB the pattern is unchanged — each executor writes its
partitions under the batch directory, the only coordination being the
driver's checkpoint commit after the batch completes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Idempotently persist one micro-batch: overwrite the batch's own
    ``batch_id=N`` directory.  Re-invocation with the same id (replay
    after failure) converges to the same files — no duplicates."""
    df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")


def start_batch_sink(
    stream: DataFrame,
    per_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start a foreachBatch query running ``per_batch(df, batch_id)``
    on every micro-batch of ``stream`` — the one starter every
    ``start_*`` sink uses.  The checkpoint makes delivery at-least-once;
    ``per_batch`` must be replay-idempotent (e.g. :func:`write_batch`)
    to make it effectively exactly-once.  ``availableNow`` drains the
    source and stops — restarting with the same checkpoint processes
    nothing already committed."""
    return (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_exactly_once_sink(
    stream: DataFrame, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Start a foreachBatch query delivering ``stream`` to ``path``
    with effective exactly-once semantics (checkpoint offsets +
    idempotent per-batch overwrite)."""
    return start_batch_sink(
        stream, lambda df, batch_id: write_batch(df, batch_id, path), checkpoint_dir
    )
