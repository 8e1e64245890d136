"""Incremental SCD2 dimension maintenance: a streaming-updated
type-2 history equivalent to the batch rebuild.

The batch side (operators/temporal.scd2_history, registered as
ev_scd2_user_state) compresses the whole changelog in one shuffle;
this module is its STREAMING half — the shape a warehouse uses when
the CDC feed arrives continuously: each micro-batch folds ONLY the
affected users' histories forward, and untouched users are never
re-read or re-written.

The merge exploits that run-length compression over an in-order
stream is foldable: a user's existing history rows ARE the state-change
skeleton of everything seen so far, so replaying them as pseudo change
events (at their original (ts, event_id) sort positions — that is what
``scd2_history(keep_tiebreak=True)`` preserves) unioned with the new
batch and re-compressed yields EXACTLY the history a full rebuild over
all events would produce: continuations in the new batch dissolve into
the current run, real changes close it, and version numbers renumber
identically because the skeleton is complete.

Replay idempotence comes from DETERMINISM over prior state: batch N's
apply consults only ``batch_id < N`` rows (a partition-pruned literal
filter, so the scan never lists batch N's own directory), so
re-running batch N recomputes exactly the rows it wrote the first
time and the ``batch_id=N`` overwrite converges — the
streaming/sinks.py exactly-once contract.  Excluding batch N from its
own prior read is load-bearing twice over (r10 review): reading it
would race the overwrite that deletes the directory mid-job (a
FAILED_READ_FILE crash whenever no shuffle boundary happens to
materialize the scan before the delete — an AQE implementation
accident, not a guarantee), and after a crash MID job-commit the
partially-written batch N dir would replay as authoritative prior
state, silently truncating affected users' histories.  With the
filter, a partial batch N is ignored and the replay rebuilds it from
clean ``< N`` state.

Read side is latest-wins per user over the batch log (a user's newest
batch dir holds their complete current history); compaction folds the
log into one dir on the maintenance cadence.  At 100 TB: per-batch
cost is bounded by the AFFECTED users' history length, the log grows
with change rate (not corpus size), and the one shuffle per batch is
keyed by user_id — the batch operator's plan shape, applied to a
sliver.

Assumes an in-order, append-only changelog (each batch's event times
at or after prior batches'), the standard CDC-feed contract; a
late-arriving event belongs to the watermark/backfill path
(ev_watermark_audit), not this maintainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.temporal import scd2_history
from .sinks import start_batch_sink, write_batch

#: history log schema (src_event_id = the change event's id, kept so
#: rows can replay as pseudo events at their original sort position).
HIST_COLS = (
    "user_id",
    "state",
    "valid_from",
    "valid_to",
    "is_current",
    "version",
    "src_event_id",
)


def _log_exists(spark: SparkSession, path: str) -> bool:
    """True iff the history log directory exists (Hadoop FileSystem
    check, so hdfs:// / s3:// paths work the same as local ones).
    Existence is probed EXPLICITLY rather than catching read errors:
    a corrupt footer or transient IO/permission failure must propagate
    — treating it as "no log yet" would fold the batch without prior
    history and silently truncate affected users' histories."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _ns_join(left: DataFrame, right: DataFrame, how: str = "inner") -> DataFrame:
    """user_id-keyed join with NULL-SAFE equality, right side broadcast
    (every maintainer consult is bounded by the batch's users, never
    the user dimension).

    The batch operator (scd2_history) tracks the NULL user as a real
    entity — window partitions treat NULL as a group — and the
    maintainer's contract is that the incremental log read hash-matches
    the one-shot batch rebuild on ANY input.  Spark's string-key join
    uses plain equality, which silently dropped the NULL-user entity's
    history at every keyed consult (fuzz gate NULL corpus, r12)."""
    r = F.broadcast(right.withColumnRenamed("user_id", "__ns_uid"))
    out = left.join(r, F.col("user_id").eqNullSafe(F.col("__ns_uid")), how)
    return out if how == "left_semi" else out.drop("__ns_uid")


def _latest_rows(
    spark: SparkSession,
    path: str,
    users: DataFrame | None = None,
    before_batch: int | None = None,
) -> DataFrame:
    """Latest-wins rows per user from the batch log, all columns
    (HIST_COLS + the fold watermarks last_ts / last_eid).

    ``users`` (a small DataFrame of user_ids) restricts the read to
    those users BEFORE the latest-wins window, so a per-batch consult
    shuffles only the affected users' rows — never the whole log.  With
    user-bucketed log storage the semi-join additionally prunes at the
    scan (DynamicPruning); without it the filter still bounds the
    window's shuffle to the affected sliver.

    ``before_batch`` restricts the read to ``batch_id < before_batch``
    — a literal partition filter, pruned at planning, so the excluded
    directory is never even listed.  apply_scd2_batch passes its own
    batch id here: a replayed (or partially-committed) batch must
    never consult itself as prior state (see the module docstring)."""
    log = spark.read.parquet(path)
    if before_batch is not None:
        log = log.filter(F.col("batch_id") < F.lit(before_batch))
    if users is not None:
        log = _ns_join(log, users.select("user_id"), "left_semi")
    w = Window.partitionBy("user_id")
    return log.withColumn("_maxb", F.max("batch_id").over(w)).filter(
        F.col("batch_id") == F.col("_maxb")
    )


def read_history(spark: SparkSession, path: str) -> DataFrame:
    """Current history from the batch log: latest-wins per user (each
    batch rewrites an affected user's ENTIRE history, so their newest
    ``batch_id`` dir is authoritative; untouched users resolve to
    whichever older dir last wrote them)."""
    return _latest_rows(spark, path).select(*HIST_COLS)


class LateEventError(ValueError):
    """A batch contained genuinely-late NEW events (ts behind a user's
    fold watermark with an event_id beyond it): folding them here would
    silently mis-compress, because continuation evidence between their
    position and the present was already discarded.  Route such events
    to a backfill that recomputes the affected users from raw events."""


def apply_scd2_batch(batch: DataFrame, batch_id: int, path: str) -> None:
    """Fold one in-order micro-batch of events into the history log:
    affected users' existing rows replay as pseudo change events,
    union the batch, re-compress with the BATCH operator, and write
    the recomputed histories under this batch's idempotent dir.

    Late-data guard: each user's open row carries fold watermarks
    (``last_ts``, ``last_eid`` = max event time / id folded so far).  A
    batch event at-or-behind ``last_ts`` with ``event_id <= last_eid``
    is a REPLAY — re-folding it is provably a no-op (change points
    dedupe, continuations dissolve), so recovery stays idempotent.  An
    event BEHIND ``last_ts`` with a NEW event_id is genuinely late:
    its correct fold may need continuation evidence the compression
    already discarded, so the batch is refused (:class:`LateEventError`)
    rather than silently corrupted — send it to the backfill path.
    This relies on source event_ids being assigned in arrival order
    (the changelog contract that also makes the tie-break total)."""
    spark = batch.sparkSession
    # Persist the micro-batch sliver and the prior consult: both feed
    # several jobs (late-event count, pseudo-event replay, mark
    # rollups, the history write) and would otherwise re-evaluate per
    # job — at the module's 100 TB framing that doubles the log-consult
    # I/O and re-reads the source sliver 4x (r10 review).
    # NULL-state records are dropped AT INGEST (scd2_history's
    # family-wide contract) — before the fold watermarks, so a
    # malformed record can neither create a version nor advance
    # last_ts/last_eid.
    batch = (
        batch.select("user_id", "event_type", "ts", "event_id")
        .filter(F.col("event_type").isNotNull())
        .persist()
    )
    prior = None
    try:
        if _log_exists(spark, path):
            # Restrict the log consult to this batch's users up front:
            # the latest-wins window shuffles only the affected sliver,
            # and the late-event marks broadcast is bounded by the
            # batch's distinct users — never the whole user dimension
            # (which at 100 TB would not fit a broadcast).  The
            # before_batch filter excludes this batch's OWN directory:
            # required for replay correctness, not just hygiene (see
            # module docstring).
            affected = batch.select("user_id").distinct()
            prior = _latest_rows(
                spark, path, users=affected, before_batch=batch_id
            ).persist()
            marks = prior.filter(F.col("is_current")).select(
                "user_id", "last_ts", "last_eid"
            )
            n_late = (
                _ns_join(batch, marks)
                .filter(
                    (F.col("ts") < F.col("last_ts"))
                    & (F.col("event_id") > F.col("last_eid"))
                )
                .count()
            )
            if n_late:
                raise LateEventError(
                    f"batch {batch_id}: {n_late} event(s) behind their user's "
                    "fold watermark with new event_ids — backfill required"
                )
            pseudo = prior.select(
                "user_id",
                F.col("state").alias("event_type"),
                F.col("valid_from").alias("ts"),
                F.col("src_event_id").alias("event_id"),
            )
            merged = pseudo.unionByName(batch)
            prior_marks = marks
            batch_marks = batch.groupBy("user_id").agg(
                F.max("ts").alias("b_ts"), F.max("event_id").alias("b_eid")
            )
            new_marks = (
                _ns_join(batch_marks, prior_marks, "left")
                .select(
                    "user_id",
                    F.greatest(F.col("b_ts"), F.coalesce("last_ts", "b_ts")).alias(
                        "last_ts"
                    ),
                    F.greatest(F.col("b_eid"), F.coalesce("last_eid", "b_eid")).alias(
                        "last_eid"
                    ),
                )
            )
        else:
            merged = batch
            new_marks = batch.groupBy("user_id").agg(
                F.max("ts").alias("last_ts"), F.max("event_id").alias("last_eid")
            )
        new_hist = _ns_join(scd2_history(merged, keep_tiebreak=True), new_marks)
        write_batch(new_hist, batch_id, path)
    finally:
        batch.unpersist()
        if prior is not None:
            prior.unpersist()


def start_scd2_sink(
    stream: DataFrame, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain the SCD2 log from an event stream (foreachBatch +
    checkpoint + idempotent per-batch dirs = effective exactly-once)."""
    return start_batch_sink(
        stream,
        lambda df, batch_id: apply_scd2_batch(df, batch_id, path),
        checkpoint_dir,
    )


def compact_history_log(spark: SparkSession, path: str, out: str) -> None:
    """Fold the latest-wins log into a single clean store (maintenance
    cadence): one dir, one row-set, identical to read_history."""
    read_history(spark, path).write.mode("overwrite").parquet(out)


def backfill_scd2(
    events: DataFrame, late: DataFrame, batch_id: int, path: str
) -> None:
    """The repair path :class:`LateEventError` routes to: recompute the
    AFFECTED users' histories from the raw changelog plus the late
    events, and rewrite their log rows under a fresh idempotent batch
    dir (latest-wins read picks them up; untouched users keep their
    older dirs).

    This is the one place the maintainer re-reads raw events — late
    data genuinely requires the continuation evidence compression
    discarded, so the repair cost is a pruned scan of the affected
    users' events (user-bucketed storage turns that into a partition-
    pruned read at scale), never the whole corpus."""
    cols = ("user_id", "event_type", "ts", "event_id")
    # same ingest contract as apply_scd2_batch: NULL-state records
    # neither repair histories nor advance watermarks
    late = late.select(*cols).filter(F.col("event_type").isNotNull())
    affected = late.select("user_id").distinct()
    merged = _ns_join(
        events.select(*cols).filter(F.col("event_type").isNotNull()),
        affected,
        "left_semi",
    ).unionByName(late)
    marks = merged.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"), F.max("event_id").alias("last_eid")
    )
    new_hist = _ns_join(scd2_history(merged, keep_tiebreak=True), marks)
    write_batch(new_hist, batch_id, path)
