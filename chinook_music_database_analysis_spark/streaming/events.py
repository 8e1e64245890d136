"""Structured Streaming versions of the event operators.

The batch shapes (plans/extensions.py ev_*) define the semantics and
are oracle-checked; these builders run the same logic as streams:
``readStream`` over the events parquet -> watermarked windowed
aggregation / stateful dedup -> sink.

Design for scale: file-source streaming here stands in for Kafka — the
transformations are source-agnostic.  Watermarks bound state (late
rows beyond 1 hour are dropped); session windows and
dropDuplicatesWithinWatermark are the two stateful operators the
reference workload lacks but an events pipeline needs.

Tests drive these with ``trigger(availableNow=True)`` into a memory
sink and compare against the batch equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money_sum, round2


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table (file source standing in for Kafka).

    The ts normalization matches sources.session._normalize_event_ts
    (nanos-long datasets divide to micros; native timestamps pass
    through untouched).
    """
    from ..sources.session import _normalize_event_ts, table_schema

    schema = table_schema(spark, sf_dir, "events")
    # The file stream source wants a directory base path — glob the
    # single file so the base resolves to the sf directory.
    raw = spark.readStream.schema(schema).parquet(f"{sf_dir}/events*.parquet")
    return _normalize_event_ts(raw)


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1h aggregation (streaming ev_tumbling_1h)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round2(money_sum("value")).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sessionized_stream(events: DataFrame) -> DataFrame:
    """Watermarked session windows per user (streaming ev_sessionized)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark_stream(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type): keeps the
    first arrival per key, with state bounded by the watermark."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


#: state rows a single streaming state-store partition comfortably
#: owns before per-store FIXED cost stops dominating (open/commit/
#: fsync of the delta file, ~tens of ms each).  Measured on the
#: r11 interval-join profile at sf0.1: 40k state rows over the
#: default 32 partitions x 4 join stores x 2 batches = 256 store
#: commits costing 36-43 s summed (~0.3 s each) against ~3 s of
#: actual join work — dropping to 8 partitions was 2.7x end-to-end
#: with bit-identical output.  12.5k rows/partition puts that
#: corpus at 4-8 partitions while a 10^9-row state still gets the
#: parallelism cap.
STATE_ROWS_PER_PARTITION = 12_500


def state_partitions_for(n_state_rows: int, hi: int = 200) -> int:
    """Right-size the streaming state partition count to expected
    state volume.

    Spark pins ``spark.sql.shuffle.partitions`` into the checkpoint at
    FIRST query start and AQE never touches stateful plans, so this is
    the one knob the engine cannot adapt at runtime — a 32-partition
    default on a 40k-row state pays 128+ fixed store-commit costs per
    micro-batch for no parallelism win, while the same default on a
    10^9-row state under-partitions it.  Size it like a shuffle:
    ~:data:`STATE_ROWS_PER_PARTITION` rows per store, clamped to
    [4, hi].  At 100 TB the ceiling governs (hundreds of
    partitions); at bench scale the floor does.  The watermark/band
    semantics are untouched — this only changes how state is sharded.
    """
    import math

    return max(4, min(hi, math.ceil(max(n_state_rows, 1) / STATE_ROWS_PER_PARTITION)))


class scoped_streaming_conf:
    """Context manager pinning streaming-only session confs around a
    drain and restoring them after (the partition count binds at query
    start, so it must be set BEFORE ``.start()``).

    ``no_data_batch=False`` additionally skips the trailing no-data
    micro-batch.  That batch exists to advance the watermark so
    WATERMARK-GATED output can flush (outer-join NULL rows, final
    windowed aggregates) and state can evict; an INNER stream-stream
    join emits every row eagerly during ``addBatch`` and an
    availableNow drain tears state down at termination anyway, so for
    that shape the cleanup batch is a pure second commit cycle —
    measured 1.8x end-to-end on the r11 profile, output
    bit-identical (gated in tests/test_streaming.py).  Leave it True
    for outer joins, windowed aggregations, and timeout-driven
    stateful ops, where the extra batch IS the flush."""

    def __init__(self, spark: SparkSession, partitions: int, no_data_batch: bool = True):
        self.spark = spark
        self.partitions = partitions
        self.no_data_batch = no_data_batch

    def __enter__(self):
        c = self.spark.conf
        self._parts = c.get("spark.sql.shuffle.partitions")
        self._nodata = c.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        c.set("spark.sql.shuffle.partitions", str(self.partitions))
        c.set(
            "spark.sql.streaming.noDataMicroBatches.enabled",
            "true" if self.no_data_batch else "false",
        )
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self._parts)
        self.spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", self._nodata
        )
        return False


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into
    a memory sink and return the materialized result table.

    The default is ``append`` because 5 of this module's 7 builders
    (dedup, both interval joins, enrichment, any update-mode stateful
    operator) reject ``complete`` at query start; the two windowed
    aggregations that want their full result pass
    ``output_mode="complete"`` explicitly."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def _error_click_interval_join(events: DataFrame, how: str) -> DataFrame:
    """Shared builder for the error->click interval joins: the band
    (10 minutes), watermarks (1 hour both sides), aliases, and join
    condition are the STATE-SIZING CONTRACT both public operators
    document — stated once so they cannot desynchronize (r10 review:
    the two bodies had drifted into 30 duplicated lines)."""
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            "user_id",
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 hour")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    return errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("err_ts"))
        & (F.col("click_ts") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
        how,
    ).select("err_id", "user_id", "err_ts", "click_ts", "click_value")


def interval_join_stream(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream interval join: clicks within 10
    minutes AFTER each error, per user — the streaming form of
    ``operators.temporal.range_join`` (same band, verified equivalent
    in tests).

    Both sides carry a 1-hour watermark and the join condition bounds
    event-time distance, so Spark can size the state store and expire
    rows: error-side state is held exactly watermark + band long.
    Without the time bound this join would be unbounded-state (Spark
    rejects it in append mode) — the band IS the scale contract.
    """
    return _error_click_interval_join(events, "inner")


def interval_left_join_stream(events: DataFrame) -> DataFrame:
    """LEFT OUTER watermarked interval join: every error, with its
    follow-up clicks where they exist and NULL click columns where
    none arrived — the unmatched-left rows are emitted only once the
    watermark passes the end of the error's band (Spark must prove no
    future click can still match before it can emit the NULL row).
    Same state-sizing contract as :func:`interval_join_stream` (the
    shared builder IS the contract); outer
    results trail the inner ones by the watermark delay, and errors
    inside the final watermark horizon stay in state with their NULL
    row unemitted — even under availableNow, because the final global
    watermark (the MIN across both inputs' max event time - delay,
    multipleWatermarkPolicy=min) cannot pass their band end.
    This is the streaming form of a left range join (batch oracle:
    LEFT JOIN with the same band, verified in tests modulo that
    horizon)."""
    return _error_click_interval_join(events, "leftOuter")


def enriched_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream joins the (broadcast) static dimension — stateless, no
    watermark needed; the dim is re-resolved per batch, so a slowly
    updated dimension table is picked up on the next trigger.  The
    100 TB shape: stream side never shuffles for the join itself."""
    return events.join(
        F.broadcast(dim.select("c_custkey", "c_mktsegment")),
        events["user_id"] == F.col("c_custkey"),
    )
