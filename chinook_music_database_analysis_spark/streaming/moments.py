"""Streaming maintenance of the PCA moment sketch.

The second-moment state (n, column sums, X^T X) is a MERGEABLE sketch:
partials from any partition of the corpus combine to the partials of
the whole (operators/similarity.pca_power_model sorts the collected
parts by content before its left-fold combine, and the covariance is
snapped to the 1e-6 grid, so ANY batching of the same rows yields the
bit-identical model).  That makes the sketch maintainable from a
stream exactly like the SCD2 log (streaming/scd2.py): each micro-batch
appends its O(d^2)-sized partial rows to a batch_id-keyed log dir —
overwrite-by-batch_id makes a replayed batch idempotent (effective
exactly-once under checkpointing) — and any reader folds the log back
into the current model without touching raw history.

At 100 TB the log is the tiny side: one row of 4096 + 64 doubles per
Arrow batch per micro-batch, compacted at will (the partials
themselves re-combine), while the raw embedding stream never needs a
second pass.  This is the continuous-ingest answer to "when do I
re-index / re-cluster": sim_pca_drift's statistics can be recomputed
from the folded log after every micro-batch at sketch cost.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.similarity import embedding_moment_partials
from .sinks import start_batch_sink, write_batch


def apply_moments_batch(batch: DataFrame, batch_id: int, log_dir: str) -> None:
    """Fold one micro-batch into the moment log: the batch's Arrow
    moment partials land in their OWN ``batch_id=N`` subdir with
    overwrite semantics, so a checkpoint-replayed batch replaces itself
    and can never double-count.  Delegates to sinks.write_batch — the
    ONE place the idempotent-dir recipe lives, so a change to the sink
    discipline (e.g. staged writes) reaches every log uniformly."""
    write_batch(embedding_moment_partials(batch), int(batch_id), log_dir)


def read_partials(spark: SparkSession, log_dir: str) -> DataFrame:
    """All partial rows across batches — the relation
    operators.similarity.pca_power_model combines.  Batch boundaries
    carry no information (mergeability), so the reader just globs."""
    return spark.read.parquet(os.path.join(log_dir, "batch_id=*"))


def start_moments_sink(
    stream: DataFrame, log_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain the moment log from an embedding stream (foreachBatch +
    checkpoint + idempotent per-batch dirs = effective exactly-once —
    the same wiring as start_scd2_sink)."""
    return start_batch_sink(
        stream,
        lambda df, batch_id: apply_moments_batch(df, batch_id, log_dir),
        checkpoint_dir,
    )
