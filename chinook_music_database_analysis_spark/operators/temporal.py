"""Temporal join operators: as-of join and range join.

Spark has no native ASOF or band-join operator (DuckDB/Pandas/kdb do);
a naive translation — inequality-only join — plans a
BroadcastNestedLoopJoin / cartesian product, the classic scale killer.
These implement the two canonical distributed rewrites:

* **as-of join** (latest right row at-or-before each left row, per
  key): union-tag both sides, one shuffle keyed by the join key, sort
  within partition by (ts, side), and carry right-side values forward
  with ``last(ignorenulls)`` over a running window.  No join node at
  all — cost is one Exchange + one in-partition sort, independent of
  match fan-out.  This is the shape used for trades-vs-quotes at
  market-data scale.

* **range join** (aggregate right rows falling in a bounded interval
  after each left row, per key): quantize both sides into
  interval-width time buckets, replicate the LEFT side to its bucket
  and successor (a window of width W spans at most 2 W-buckets), then
  equi-join on (key, bucket) and filter the exact band residually.
  Catalyst plans a plain shuffled hash join on (key, bucket) — no
  nested loop — and the replication factor is exactly 2.

Both keep all comparisons in integer microseconds (``unix_micros``),
bit-identical to the DuckDB oracles' ``date_diff('microsecond')``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str = "ts",
    tolerance_us: int | None = None,
) -> DataFrame:
    """Left as-of join: every ``left`` row picks the most recent
    ``right`` row with ``right.ts <= left.ts`` for the same ``key``
    (inclusive, like DuckDB ``ASOF JOIN ... ON r.ts <= l.ts``); no
    match yields NULLs.  Right columns come back prefixed ``r_``;
    ``tolerance_us`` (microseconds) optionally voids matches older
    than ``left.ts - tolerance_us`` (pandas ``merge_asof`` tolerance).

    Ties on (key, ts) between right rows resolve to the row latest in
    the union sort order — supply pre-deduped right input when exact
    tie policy matters.

    NULL keys follow JOIN semantics, not groupBy semantics: a NULL
    never equals a NULL in an ON clause, so NULL-key right rows are
    dropped before the union (they could match nothing) and NULL-key
    left rows come back with NULL right columns.  Without the filter,
    the window's partitionBy — which treats NULL as a real partition —
    silently as-of-matched NULL-key probes against NULL-key history,
    diverging from DuckDB/pandas ASOF (fuzz gate NULL corpus, r12).

    The right side carries forward as ONE struct, not per-column
    ``last(ignorenulls)`` (r10 review): per-column fill skips a NULL
    inside the matched right row and substitutes a stale value from an
    older row — a mixed row that never existed, which the tolerance
    gate then wrongly passes because the carried r_ts came from the
    newer row.  A struct is non-null whenever the right ROW exists, so
    the whole matched row travels together, NULL fields included.
    """
    rcols = [c for c in right.columns if c != key]
    clash = {"__asof_ts", "__asof_side", "__asof_r"} & set(left.columns)
    if clash:
        raise ValueError(f"asof_join: left columns collide with internals: {clash}")
    r = right.filter(F.col(key).isNotNull()).select(
        key,
        F.col(ts).alias("__asof_ts"),
        F.lit(0).alias("__asof_side"),
        F.struct(
            *[F.col(c).alias("r_" + c) for c in rcols]
        ).alias("__asof_r"),
    )
    l_ = left.select(
        "*", F.col(ts).alias("__asof_ts"), F.lit(1).alias("__asof_side")
    )
    u = l_.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy("__asof_ts", "__asof_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("__asof_r", ignorenulls=True).over(w).alias("__asof_r")
    out = u.select(*left.columns, "__asof_side", "__asof_ts", carried).filter(
        F.col("__asof_side") == 1
    )
    fields = [F.col(f"__asof_r.r_{c}").alias("r_" + c) for c in rcols]
    if tolerance_us is not None:
        fresh = (
            F.unix_micros(F.col("__asof_ts"))
            - F.unix_micros(F.col(f"__asof_r.r_{ts}"))
        ) <= F.lit(tolerance_us)
        return out.select(
            *left.columns,
            *[F.when(fresh, F.col(f"__asof_r.r_{c}")).alias("r_" + c) for c in rcols],
        )
    return out.select(*left.columns, *fields)


def _bucket(ts_col: str, width_us: int) -> Column:
    return F.floor(F.unix_micros(F.col(ts_col)) / F.lit(width_us))


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    width_us: int,
) -> DataFrame:
    """Banded join: pairs of (left row, right row) with the same
    ``key`` and ``right.ts`` in the half-open band
    ``(left.ts, left.ts + width_us]``.

    Returns the joined pairs (every non-key right column comes back
    suffixed ``_r``); callers aggregate.  The bucket replication
    (left -> {b, b+1}) guarantees every in-band pair co-locates in
    exactly one (key, bucket) task, so the plan is a shuffled
    equi-join with a residual filter — never a nested loop.
    """
    if "__rj_b" in left.columns:  # internal name must not clobber caller data
        raise ValueError("range_join: left already has a __rj_b column")
    lb = left.withColumn(
        "__rj_b",
        F.explode(
            F.array(_bucket("ts", width_us), _bucket("ts", width_us) + 1)
        ),
    )
    rb = right.select(
        key, *[F.col(c).alias(c + "_r") for c in right.columns if c != key]
    ).withColumn("__rj_b", _bucket("ts_r", width_us))
    l_us = F.unix_micros(F.col("ts"))
    r_us = F.unix_micros(F.col("ts_r"))
    return (
        lb.join(rb, [key, "__rj_b"])
        .filter((r_us > l_us) & (r_us <= l_us + F.lit(width_us)))
        .drop("__rj_b")
    )


def resample_ffill(events: DataFrame, step: str = "1 hour") -> DataFrame:
    """Time-series resampling with forward fill: bucket each user's
    ``value`` events into fixed ``step`` windows on ``ts``, materialize
    the FULL bucket grid between the user's first and last bucket (gaps
    included), and
    carry the last observed value forward across gaps — the
    regular-grid densification every downstream window/feature
    pipeline assumes (and which SQL engines ship as ``time_bucket`` +
    gap-fill in the time-series extensions; Spark composes it from
    sequence/explode + last(ignorenulls)).

    Per-bucket value = exact DECIMAL sum of the bucket's events
    (deterministic under any partitioning, like the windowed aggs);
    ``is_gap`` marks grid rows with no observations.

    Scale: one bucket-grain aggregation shuffle, a per-key min/max agg
    (tiny), the grid explode (narrow — output rows only), one
    key+bucket equi-join, and one in-partition window per key.  Grid
    size is span/step per key — bound ``step`` to the key's activity
    horizon at 100 TB (a years-long span at 1-second step would
    explode; this is inherent to densification, not to the plan).
    """
    # Only single-unit steps are expressible with this bucket scheme:
    # date_trunc has no "30 minutes" grain, and an N>1 step would
    # truncate buckets to the 1-unit grain while the grid steps N —
    # odd-grain events silently vanish from the left join (r10 review).
    # Refuse loudly instead of returning a wrong/empty relation.
    parts = step.strip().split()
    unit = parts[-1].rstrip("s").lower() if parts else ""
    valid_units = {"second", "minute", "hour", "day", "week", "month", "year"}
    if len(parts) != 2 or parts[0] != "1" or unit not in valid_units:
        raise ValueError(
            f"resample_ffill: step must be '1 <unit>' with unit in "
            f"{sorted(valid_units)}; got {step!r} — for N-unit grids use an "
            f"arithmetic bucket (floor((ts - origin) / step))"
        )
    bucket = F.date_trunc(unit, F.col("ts"))
    b = (
        events.select(F.col("user_id"), bucket.alias("bucket"), F.col("value"))
        .groupBy("user_id", "bucket")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("v")
        )
    )
    span = b.groupBy("user_id").agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr(f"interval {step}"))).alias("bucket"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(b, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.last("v", ignorenulls=True).over(w).alias("v_ffill"),
            F.col("v").isNull().alias("is_gap"),
        )
    )


#: block width (arrival-axis range) for the two-level prefix max — the
#: within-block window partition size and the block-relation row count
#: trade off through this constant, same role as curation.PACK_BLOCK.
LATENESS_BLOCK = 1000


def event_lateness(
    events: DataFrame,
    block: int = LATENESS_BLOCK,
    arrival_col: str | None = None,
) -> DataFrame:
    """Per-event lateness: how far behind the maximum event-time
    already ARRIVED each event's timestamp is, in microseconds — the
    quantity a Structured Streaming watermark trades off (events with
    lateness beyond the watermark delay are dropped from stateful
    operators).

    Arrival order is ``arrival_col`` (a numeric ingest-sequence
    column; ties broken by event_id), defaulting to event_id itself.
    ``block`` is the arrival-axis width of one prefix block — for a
    dense sequence use row counts (default 1000); for a hash-valued
    arrival axis use a power-of-two slice of the hash range.

    The naive plan is one global ordered running-max — a single
    partition holding every event.  This is the two-level distributed
    prefix MAX instead (the pack_sequences pattern with max for sum):
    per-block maxima (one shuffled row per ``arrival div block``), an
    exclusive prefix max over that tiny block relation, broadcast
    back, and an exclusive within-block running max partitioned by
    block — both corpus-scale stages are keyed by block id, so no
    partition ever holds more than one block of state.

    Timestamps are compared in integer microseconds (the generator's
    grain), so lateness — and the oracle — is exact; the sentinel for
    "no prior event" is epoch 0, below every real timestamp.
    """
    arr = arrival_col or "event_id"
    e = events.select(
        "event_id",
        F.col(arr).alias("arr"),
        F.unix_micros(F.col("ts")).alias("us"),
        F.expr(f"{arr} div {block}").alias("grp"),
    )
    blocks = (
        e.groupBy("grp")
        .agg(F.max("us").alias("gmax"))
        .withColumn(
            "gprior",
            F.coalesce(
                F.max("gmax").over(
                    Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("grp", "gprior")
    )
    w_in = (
        Window.partitionBy("grp")
        .orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        e.join(F.broadcast(blocks), "grp")
        .withColumn(
            "prior",
            F.greatest(
                F.col("gprior"), F.coalesce(F.max("us").over(w_in), F.lit(0))
            ),
        )
        .select(
            "event_id",
            F.greatest(F.lit(0), F.col("prior") - F.col("us")).alias("late_us"),
        )
    )


def scd2_history(events: DataFrame, keep_tiebreak: bool = False) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a
    changelog: per ``user_id``, compress consecutive rows with the same
    ``event_type`` into one versioned interval and stamp each with
    ``valid_from`` / ``valid_to`` (NULL = open) / ``is_current`` /
    ``version`` — the standard dimension-history build a warehouse runs
    over a CDC feed before point-in-time joins.

    Plan shape: change detection (``lag != state``) and interval
    stamping (``lead`` + ``row_number``) both use the SAME window
    partitioning (``user_id``) and sort ((``ts``, ``event_id``)), and the
    intervening filter preserves both, so Catalyst plans exactly ONE
    Exchange and ONE Sort for the whole build — at 100 TB the cost is a
    single shuffle of the changelog, not one per window function.  The
    ``event_id`` tie-break makes the sort total, so version numbering is
    deterministic under equal timestamps.

    ``keep_tiebreak=True`` appends the change row's ``event_id`` as
    ``src_event_id`` — the incremental maintainer
    (streaming/scd2.py) needs it to replay history rows as pseudo
    change events with their ORIGINAL sort position.

    NULL states are malformed changelog records and are EXCLUDED at
    ingest (a state machine cannot transition to NULL).  This is a
    family-wide contract shared with the oracles and the incremental
    maintainer: without the filter, SQL LAG semantics skip the NULL
    row as a change point but still RESET the lag for the row after
    it, splitting one same-state run into two versions — an accident
    the compressed incremental fold cannot replicate, because the
    NULL-state evidence is discarded at compression (fuzz gate NULL
    corpus, r12).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.filter(F.col("event_type").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("_prev_state", F.lag("event_type").over(w))
        .filter(
            F.col("_prev_state").isNull()
            | (F.col("_prev_state") != F.col("event_type"))
        )
        .drop("_prev_state")
    )
    extra = (F.col("event_id").alias("src_event_id"),) if keep_tiebreak else ()
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
        F.row_number().over(w).alias("version"),
        *extra,
    )
