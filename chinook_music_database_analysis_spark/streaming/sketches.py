"""Incremental sketch maintenance: a streaming-updated day-level HLL
sketch table answering distinct-count queries at any grain.

The batch side (plans/scale_queries.ev_hll_week_rollup) shows the
pre-aggregated sketch-table pattern; this module is its ingest half:
every micro-batch folds its events into per-day HyperLogLog sketches
appended to a parquet log, and readers union the log per day (or any
coarser grain) — raw events are never re-scanned.

Exactly-once economics come for free here, twice over:

1. **File idempotence** — batches land under ``batch_id=N`` overwrite
   directories (the streaming/sinks.write_batch recipe), so a replayed
   batch converges to the same files.
2. **Value idempotence** — HLL union is register-wise MAX, so even if
   a replay DID double-append a sketch, unioning the duplicate changes
   no estimate.  Distinct-count sketch tables are therefore immune to
   the double-counting failure that plagues additive streaming
   aggregates on at-least-once delivery — the reason this pattern is
   the production default for streaming distinct counts.

At 100 TB: the log holds one ~1.5 KB sketch per (day, batch) — growth
is batch-rate, not event-rate; fold with ``compact_sketch_log`` (one
row per day) on the maintenance cadence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .sinks import start_batch_sink, write_batch


def day_sketches(events: DataFrame) -> DataFrame:
    """Per-day HLL sketches of distinct users for one (micro-)batch:
    (day, sk binary).  One partial-merged hash aggregate — the batch's
    events collapse to at most one row per day touched."""
    return events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )


def start_sketch_log_sink(
    stream: DataFrame, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain the sketch log from an event stream: each micro-batch
    writes its day sketches under its own ``batch_id=N`` directory
    (idempotent overwrite; replay converges)."""
    return start_batch_sink(
        stream,
        lambda df, batch_id: write_batch(day_sketches(df), batch_id, path),
        checkpoint_dir,
    )


def distinct_users_by_day(spark: SparkSession, path: str) -> DataFrame:
    """(day, approx_users) from the sketch log: union every logged
    sketch per day, estimate once.  Cost is per-log-row (KBs), never
    per-event."""
    return (
        spark.read.parquet(path)
        .groupBy("day")
        .agg(
            F.round(F.hll_sketch_estimate(F.hll_union_agg("sk"))).alias(
                "approx_users"
            )
        )
    )


def distinct_users_by_week(spark: SparkSession, path: str) -> DataFrame:
    """The same log answering a COARSER grain — the whole point of
    mergeable sketches: no second ingest pipeline, just a different
    union grouping."""
    return (
        spark.read.parquet(path)
        .groupBy(F.date_trunc("week", "day").cast("date").alias("week"))
        .agg(
            F.round(F.hll_sketch_estimate(F.hll_union_agg("sk"))).alias(
                "approx_users"
            )
        )
    )


def compact_sketch_log(spark: SparkSession, path: str, out_path: str) -> None:
    """Fold the append log to one sketch row per day (hll_union_agg is
    associative, so folded and raw logs answer identically).  Run on
    the compaction cadence; at 100 TB this caps the log at
    O(days x dimensions) rows regardless of ingest rate."""
    (
        spark.read.parquet(path)
        .groupBy("day")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .write.mode("overwrite")
        .parquet(out_path)
    )


# ---------------------------------------------------------------------------
# Incremental count-min maintenance (the ADDITIVE counterpart)
# ---------------------------------------------------------------------------


def batch_cms(events: DataFrame, key: str) -> DataFrame:
    """One micro-batch's count-min register increment over ``key``
    (operators/sketch.cms_registers): (d, bucket, cnt), <= 4096 rows
    per batch whatever the batch size."""
    from ..operators.sketch import cms_registers

    return cms_registers(events.select(key), key)


def start_cms_log_sink(
    stream: DataFrame, key: str, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain a count-min register log from an event stream.

    CONTRAST with the HLL log above: CMS merge is register-wise SUM,
    an ADDITIVE fold — a double-appended batch genuinely double-counts
    (no value idempotence to fall back on), so correctness here rests
    entirely on the ``batch_id=N`` overwrite-directory discipline of
    streaming/sinks.write_batch: a replayed batch overwrites its own
    directory and the folded totals are unchanged.  This is the
    exactly-once requirement every additive streaming aggregate
    carries on at-least-once delivery, made concrete on the smallest
    possible state (4096 counters)."""
    return start_batch_sink(
        stream,
        lambda df, batch_id: write_batch(batch_cms(df, key), batch_id, path),
        checkpoint_dir,
    )


def cms_registers_from_log(spark: SparkSession, path: str) -> DataFrame:
    """Fold the register log to the stream-total sketch: register-wise
    SUM (mergeable-summaries rule for counter sketches).  Because sum
    is associative, the folded registers are IDENTICAL to a one-shot
    cms_registers over the concatenated stream — the equivalence
    test_streaming asserts."""
    return (
        spark.read.parquet(path)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Incremental Bloom maintenance (the OR-merge counterpart)
# ---------------------------------------------------------------------------


def batch_bloom(events: DataFrame, key: str) -> DataFrame:
    """One micro-batch's Bloom word increment over ``key``
    (operators/sketch.bloom_build): (word, bits), <= 256 rows per
    batch."""
    from ..operators.sketch import bloom_build

    return bloom_build(events.select(key), key)


def start_bloom_log_sink(
    stream: DataFrame, key: str, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain a Bloom word log from an event stream — the streaming
    build of the runtime join filter (ev_bloom_prune's build half,
    kept fresh as keys arrive).

    This completes the merge-algebra trio the sketch logs demonstrate:
    HLL merges by register MAX, count-min by SUM, Bloom by bitwise OR.
    OR is idempotent like max — a double-appended batch changes no
    bit — so Bloom logs inherit HLL's replay immunity rather than
    CMS's strict exactly-once requirement, and the same
    ``batch_id=N`` sink discipline is belt-and-braces here."""
    return start_batch_sink(
        stream,
        lambda df, batch_id: write_batch(batch_bloom(df, key), batch_id, path),
        checkpoint_dir,
    )


def bloom_words_from_log(spark: SparkSession, path: str) -> DataFrame:
    """Fold the word log to the stream-total filter: bitwise OR per
    word — identical to a one-shot bloom_build over the concatenated
    stream (OR is associative AND idempotent), so the folded filter
    can prune exactly like a batch-built one."""
    return (
        spark.read.parquet(path)
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
