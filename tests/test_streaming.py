"""Structured Streaming tests: the readStream versions must agree with
their oracle-checked batch equivalents when run to completion."""

from __future__ import annotations

from chinook_music_database_analysis_spark.plans import QUERIES
from chinook_music_database_analysis_spark.streaming.events import (
    dedup_within_watermark_stream,
    read_events_stream,
    run_to_memory,
    sessionized_stream,
    tumbling_counts_stream,
)

from conftest import SF_TEST_DIR, assert_frames_match


def test_tumbling_stream_matches_batch(spark):
    stream = tumbling_counts_stream(read_events_stream(spark, SF_TEST_DIR))
    got = run_to_memory(stream, "t_tumbling", output_mode="complete").toPandas()
    want = QUERIES["ev_tumbling_1h"](spark, SF_TEST_DIR).toPandas()
    assert_frames_match(got, want, "tumbling_stream_vs_batch")


def test_session_stream_matches_batch(spark):
    stream = sessionized_stream(read_events_stream(spark, SF_TEST_DIR))
    got = run_to_memory(stream, "t_sessions", output_mode="complete").toPandas()
    want = QUERIES["ev_sessionized"](spark, SF_TEST_DIR).toPandas()
    assert_frames_match(got, want, "session_stream_vs_batch")


def test_dedup_stream_keys_match_batch(spark):
    # Within a single batch the row kept per key is arrival-order
    # dependent; the key SET is deterministic and must match the batch
    # keep-first dedup.
    stream = dedup_within_watermark_stream(read_events_stream(spark, SF_TEST_DIR))
    got = run_to_memory(stream, "t_dedup", output_mode="append").toPandas()
    want = QUERIES["ev_dedup_first"](spark, SF_TEST_DIR).toPandas()
    got_keys = set(map(tuple, got[["user_id", "event_type"]].itertuples(index=False)))
    want_keys = set(map(tuple, want[["user_id", "event_type"]].itertuples(index=False)))
    assert got_keys == want_keys
    assert len(got) == len(want)


def test_stateful_running_totals(spark):
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.streaming.stateful import (
        user_running_totals_stream,
    )

    stream = user_running_totals_stream(read_events_stream(spark, SF_TEST_DIR))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Last update per user must equal the batch per-user totals.
    got = (
        spark.table("t_state")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    want = (
        spark.read.parquet(f"{SF_TEST_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got.n_events == want.n_events).all()


def test_stateful_running_totals_bucketed_equivalent(spark):
    """r12: the bucketed (vectorized) totals variant must drain to
    EXACTLY the per-key variant's rows — same users, same running
    counts, same rounded values — it only re-keys the state by hash
    bucket and merges with one pandas groupby per bucket."""
    from chinook_music_database_analysis_spark.streaming.stateful import (
        user_running_totals_bucketed_stream,
        user_running_totals_stream,
    )

    def drain(builder, name):
        q = (
            builder(read_events_stream(spark, SF_TEST_DIR))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.table(name)
            .toPandas()
            .sort_values(["user_id", "n_events"])
            .reset_index(drop=True)
        )

    got = drain(user_running_totals_bucketed_stream, "t_state_bucketed")
    want = drain(user_running_totals_stream, "t_state_perkey")
    assert got.equals(want), (
        got.compare(want) if got.shape == want.shape else (got.shape, want.shape)
    )


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the eviction
    protocol without a streaming query."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_evicting_state_protocol_unit():
    import pandas as pd

    from chinook_music_database_analysis_spark.streaming.stateful import (
        make_evicting_update,
    )

    update = make_evicting_update(1000)
    # Fresh key accumulates, arms the timeout, emits non-final.
    st = _FakeState()
    out = list(update((7,), iter([pd.DataFrame({"value": [1.0, 2.5]})]), st))
    assert len(out) == 1 and not out[0]["final"].iloc[0]
    assert out[0]["n_events"].iloc[0] == 2 and out[0]["total_value"].iloc[0] == 3.5
    assert st.get == (2, 3.5) and st.timeout_set == 1000
    # Timed-out key emits its final row and removes state.
    st2 = _FakeState(value=(5, 9.0), timed_out=True)
    out2 = list(update((7,), iter([]), st2))
    assert len(out2) == 1 and out2[0]["final"].iloc[0]
    assert out2[0]["n_events"].iloc[0] == 5 and out2[0]["total_value"].iloc[0] == 9.0
    assert st2.removed


def test_evicting_stream_runs(spark):
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.streaming.stateful import (
        user_running_totals_evicting_stream,
    )

    # Short idle horizon: availableNow keeps the query alive while
    # armed processing-time timeouts are pending, so the default
    # 30-minute horizon would hang the test harness.
    stream = user_running_totals_evicting_stream(
        read_events_stream(spark, SF_TEST_DIR), idle_timeout_ms=500
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_evict")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout=180)
    finally:
        q.stop()
    got = (
        spark.table("t_evict")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    want = (
        spark.read.parquet(f"{SF_TEST_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got.n_events == want.n_events).all()


def test_interval_join_stream_matches_batch_range_join(spark):
    from chinook_music_database_analysis_spark.operators.temporal import range_join
    from chinook_music_database_analysis_spark.sources import load_tables
    from chinook_music_database_analysis_spark.streaming.events import (
        interval_join_stream,
    )
    from pyspark.sql import functions as F

    stream = interval_join_stream(read_events_stream(spark, SF_TEST_DIR))
    got = run_to_memory(stream, "t_interval", output_mode="append").toPandas()

    ev = load_tables(spark, SF_TEST_DIR)["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    want = range_join(errors, clicks, key="user_id", width_us=600_000_000).toPandas()
    got_pairs = set(map(tuple, got[["err_id", "click_ts"]].itertuples(index=False)))
    want_pairs = set(map(tuple, want[["err_id", "ts_r"]].itertuples(index=False)))
    assert got_pairs == want_pairs and got_pairs


def test_exactly_once_sink_restart_and_replay(spark, tmp_path):
    """foreachBatch exactly-once contract: (1) a drained query delivers
    every source row once; (2) restarting from the same checkpoint
    re-delivers NOTHING; (3) replaying a batch id (simulated failure
    retry) overwrites its own directory — total row count never
    changes."""
    from chinook_music_database_analysis_spark.streaming.sinks import (
        start_exactly_once_sink,
        write_batch,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = read_events_stream(spark, SF_TEST_DIR).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = start_exactly_once_sink(src, out, ckpt)
    q.awaitTermination()
    n_src = spark.read.parquet(f"{SF_TEST_DIR}/events.parquet").count()
    delivered = spark.read.parquet(out)
    assert delivered.count() == n_src
    assert delivered.select("event_id").distinct().count() == n_src

    # Restart with the same checkpoint: source fully committed, so the
    # drained run writes nothing new.
    q2 = start_exactly_once_sink(src, out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n_src

    # Failure-replay simulation: re-write an already-committed batch id
    # with the full source batch — idempotent overwrite, same count.
    batch_df = spark.read.parquet(f"{SF_TEST_DIR}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    write_batch(batch_df, 0, out)
    assert spark.read.parquet(out).count() == n_src


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-static join drained to completion, then aggregated, must
    equal the oracle-gated batch enrichment query."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.functions import money_sum, round2
    from chinook_music_database_analysis_spark.sources import load_tables
    from chinook_music_database_analysis_spark.streaming.events import enriched_stream

    dim = load_tables(spark, SF_TEST_DIR)["customer"]
    stream = enriched_stream(read_events_stream(spark, SF_TEST_DIR), dim)
    enriched = run_to_memory(stream, "t_enriched", output_mode="append")
    got = (
        enriched.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            round2(money_sum("value")).alias("total_value"),
        )
        .toPandas()
    )
    want = QUERIES["ev_enriched_segments"](spark, SF_TEST_DIR).toPandas()
    assert_frames_match(got, want, "stream_static_enrichment")


def test_python_datasource_stream_reader(spark, tmp_path):
    """Streaming side of the custom Python data source: offset-tracked
    micro-batches drain to exactly max_rows distinct rows, and the
    stream rows equal the batch reader's rows for the same seed (batch
    ids 0 with global row ids — content is batch-boundary
    independent)."""
    from chinook_music_database_analysis_spark.sources.synthetic import register

    register(spark)
    opts = {"rows_per_batch": 150, "max_rows": 600, "n_partitions": 3, "n_users": 20}
    stream = spark.readStream.format("synthevents")
    for k, v in opts.items():
        stream = stream.option(k, v)
    q = (
        stream.load()
        .writeStream.format("memory")
        .queryName("t_synth_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # The offset cursor advances rows_per_batch per micro-batch and
    # caps at max_rows, so processAllAvailable() drains exactly
    # max_rows rows across 4 batches and returns.
    q.processAllAvailable()
    q.stop()
    got = spark.table("t_synth_stream")
    assert got.count() == 600
    assert got.select("event_id").distinct().count() == 600
    # Stream content must equal the deterministic generator output
    # (generate_rows is the tuple view of the Arrow batches the
    # readers ship since r12).
    from chinook_music_database_analysis_spark.sources.synthetic import (
        generate_rows,
    )

    want = sorted(generate_rows(7, opts["n_users"], 0, 600))
    have = sorted(
        (r.event_id, r.user_id, r.event_type, r.value, r.ts) for r in got.collect()
    )
    assert have == want


def test_interval_left_join_stream_matches_batch_left_join(spark):
    """LEFT OUTER interval join: matched pairs equal the batch left
    join's, and every error with no click in its band surfaces exactly
    once with NULL click columns — EXCEPT errors inside the final
    watermark horizon (band end above max event time - 1h watermark),
    whose NULL rows Spark can never prove final; the batch expectation
    is filtered to the same horizon."""
    from chinook_music_database_analysis_spark.sources import load_tables
    from chinook_music_database_analysis_spark.streaming.events import (
        interval_left_join_stream,
    )
    from pyspark.sql import functions as F

    stream = interval_left_join_stream(read_events_stream(spark, SF_TEST_DIR))
    got = run_to_memory(stream, "t_interval_left", output_mode="append").toPandas()

    ev = load_tables(spark, SF_TEST_DIR)["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    # Global watermark = MIN of the two inputs' (max event time - 1h)
    # (multipleWatermarkPolicy=min); an unmatched error can only emit
    # its NULL row once that watermark passes its band end, so the
    # batch expectation keeps NULL rows only below that horizon.
    horizon = (
        ev.filter(F.col("event_type").isin("error", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg((F.min("mx") - F.expr("INTERVAL 70 MINUTES")).alias("h"))
        .collect()[0]
        .h
    )
    want = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("err_ts"))
        & (F.col("click_ts") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left",
    ).toPandas()

    def pairs(df, null_cutoff):
        ts = df["click_ts"].astype("datetime64[us]")
        out = set()
        for e, et, t in zip(df["err_id"], df["err_ts"], ts):
            if t == t:
                out.add((e, t))
            elif et <= null_cutoff:
                out.add((e, None))
        return out

    assert pairs(got, horizon) == pairs(want, horizon) and len(pairs(got, horizon))
    # NULL rows exist (some errors have no click inside the band).
    assert got["click_ts"].isna().any()


def test_incremental_sketch_log_maintenance(spark, tmp_path):
    """Streaming-maintained HLL day-sketch table: (1) estimates from
    the log agree with exact batch distinct counts within the sketch
    bound; (2) the week grain is answered from the SAME log (mergeable
    sketches need no second pipeline); (3) a replayed batch changes no
    estimate — HLL union is value-idempotent, the property that makes
    sketch tables safe on at-least-once delivery; (4) compaction folds
    the log without changing any answer."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.streaming.sketches import (
        compact_sketch_log,
        day_sketches,
        distinct_users_by_day,
        distinct_users_by_week,
        start_sketch_log_sink,
        write_batch,
    )

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")
    q = start_sketch_log_sink(read_events_stream(spark, SF_TEST_DIR), log, ckpt)
    q.awaitTermination()

    events = spark.read.parquet(f"{SF_TEST_DIR}/events.parquet")
    exact = {
        r["day"]: r["exact"]
        for r in events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    approx = {
        r["day"]: r["approx_users"]
        for r in distinct_users_by_day(spark, log).collect()
    }
    assert set(approx) == set(exact)
    for day, ex in exact.items():
        assert abs(approx[day] - ex) <= max(0.05 * ex, 8), (day, approx[day], ex)

    week_rows = distinct_users_by_week(spark, log).collect()
    assert week_rows and all(r["approx_users"] > 0 for r in week_rows)

    # Replay: re-write batch 0's sketches from the full source — the
    # file overwrite is idempotent AND the union value is unchanged.
    write_batch(day_sketches(events), 0, log)
    assert {
        r["day"]: r["approx_users"]
        for r in distinct_users_by_day(spark, log).collect()
    } == approx

    # Compaction: folded log answers identically at both grains.
    folded = str(tmp_path / "folded")
    compact_sketch_log(spark, log, folded)
    assert {
        r["day"]: r["approx_users"]
        for r in distinct_users_by_day(spark, folded).collect()
    } == approx


def test_streaming_postings_log_matches_batch_index(spark, tmp_path):
    """Incremental BM25 index maintenance (streaming/postings.py): the
    postings + doc-length relations read back from the streamed
    per-batch delta log must EXACTLY equal the batch
    bm25_corpus_relations derivation, retrieval through bm25_topk must
    rank identically over either, restarting the drained stream with
    the same checkpoint must change nothing (exactly-once economics),
    and the term-clustered compaction must preserve the relation."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.text import (
        bm25_corpus_relations,
        bm25_topk,
    )
    from chinook_music_database_analysis_spark.streaming.postings import (
        compact_postings_log,
        read_documents_stream,
        read_postings,
        start_postings_log_sink,
    )

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")
    q = start_postings_log_sink(read_documents_stream(spark, SF_TEST_DIR), log, ckpt)
    q.awaitTermination()

    docs = spark.read.parquet(f"{SF_TEST_DIR}/documents.parquet")
    want_p, want_dl = bm25_corpus_relations(docs)
    got_p, got_dl = read_postings(spark, log)

    def rows(df, cols):
        return {tuple(r) for r in df.select(*cols).collect()}

    assert rows(got_p, ["doc_id", "term", "tf"]) == rows(want_p, ["doc_id", "term", "tf"])
    assert rows(got_dl, ["doc_id", "dl"]) == rows(want_dl, ["doc_id", "dl"])

    # retrieval equivalence through the scorer
    n_docs = docs.count()
    total = int(want_dl.agg(F.sum("dl")).collect()[0][0])
    bag = ("vector", "merge", "filter")
    want_top = bm25_topk(want_p, want_dl, bag, n_docs=n_docs, total_tokens=total)
    got_top = bm25_topk(got_p, got_dl, bag, n_docs=n_docs, total_tokens=total)
    assert [tuple(r) for r in got_top.collect()] == [tuple(r) for r in want_top.collect()]

    # replay/restart: the drained checkpoint admits no new batches
    q2 = start_postings_log_sink(read_documents_stream(spark, SF_TEST_DIR), log, ckpt)
    q2.awaitTermination()
    assert rows(read_postings(spark, log)[0], ["doc_id", "term", "tf"]) == rows(
        want_p, ["doc_id", "term", "tf"]
    )

    # compaction preserves the relation (and re-clusters by term)
    compacted = str(tmp_path / "compacted")
    compact_postings_log(spark, log, compacted)
    cp = spark.read.parquet(compacted)
    assert rows(cp, ["doc_id", "term", "tf"]) == rows(want_p, ["doc_id", "term", "tf"])


def test_streaming_postings_null_text_doc_keeps_doclens_row(spark, tmp_path):
    """r12 review: a null-text doc must land in the streamed log's
    doclens exactly as the batch relation has it (a NULL-dl row) — the
    old explode dropped the doc from the log entirely, so served N and
    avgdl silently diverged between the streamed and batch index forms
    on corpora with null texts.  The explode_outer marker row must NOT
    leak into the postings relation."""
    from chinook_music_database_analysis_spark.operators.text import (
        bm25_corpus_relations,
    )
    from chinook_music_database_analysis_spark.streaming.postings import (
        read_documents_stream,
        read_postings,
        start_postings_log_sink,
    )

    corpus = tmp_path / "corpus"
    spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, None), (3, "")],
        "doc_id bigint, text string",
    ).write.parquet(str(corpus / "documents.parquet"))

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")
    q = start_postings_log_sink(
        read_documents_stream(spark, str(corpus)), log, ckpt
    )
    q.awaitTermination()

    want_p, want_dl = bm25_corpus_relations(
        spark.read.parquet(str(corpus / "documents.parquet"))
    )
    got_p, got_dl = read_postings(spark, log)

    def rows(df, cols):
        return {tuple(r) for r in df.select(*cols).collect()}

    assert rows(got_dl, ["doc_id", "dl"]) == rows(want_dl, ["doc_id", "dl"])
    assert rows(got_p, ["doc_id", "term", "tf"]) == rows(
        want_p, ["doc_id", "term", "tf"]
    )
    # all three docs present in doclens — N and avgdl agree across forms
    assert got_dl.count() == 3
    assert got_p.filter("term IS NULL").count() == 0


def _hist_key(r):
    return (r.user_id, r.version)


def _hist_tuple(r):
    return (
        r.user_id, r.state, r.valid_from, r.valid_to, r.is_current,
        r.version, r.src_event_id,
    )


def test_incremental_scd2_matches_batch_rebuild(spark, tmp_path):
    """streaming/scd2.py: folding the changelog in through N in-order
    micro-batches must yield EXACTLY the history the batch operator
    builds over the full stream — rows, intervals, versions, current
    flags, and change-event ids all identical — and replaying an
    already-applied batch must converge (idempotent merge)."""
    from chinook_music_database_analysis_spark.operators.temporal import scd2_history
    from chinook_music_database_analysis_spark.sources import load_tables
    from chinook_music_database_analysis_spark.streaming.scd2 import (
        apply_scd2_batch,
        compact_history_log,
        read_history,
    )

    ev = load_tables(spark, SF_TEST_DIR)["events"].select(
        "user_id", "event_type", "ts", "event_id"
    )
    # three in-order slices by event-time tertiles
    t1, t2 = (
        ev.selectExpr("percentile(unix_micros(ts), 0.33)", "percentile(unix_micros(ts), 0.66)")
        .first()
    )
    from pyspark.sql import functions as F

    us = F.unix_micros("ts")
    slices = [
        ev.filter(us <= t1),
        ev.filter((us > t1) & (us <= t2)),
        ev.filter(us > t2),
    ]
    log = str(tmp_path / "scd2_log")
    for i, b in enumerate(slices):
        apply_scd2_batch(b, i, log)

    want = {
        _hist_key(r): _hist_tuple(r)
        for r in scd2_history(ev, keep_tiebreak=True).collect()
    }
    got = {_hist_key(r): _hist_tuple(r) for r in read_history(spark, log).collect()}
    assert got == want and want

    # replay the last batch (failure-recovery path) -> identical state
    apply_scd2_batch(slices[2], 2, log)
    again = {_hist_key(r): _hist_tuple(r) for r in read_history(spark, log).collect()}
    assert again == want

    # compaction preserves the relation
    out = str(tmp_path / "scd2_store")
    compact_history_log(spark, log, out)
    comp = {
        _hist_key(r): _hist_tuple(r)
        for r in spark.read.parquet(out).collect()
    }
    assert comp == want


def test_scd2_streaming_sink_end_to_end(spark, tmp_path):
    """The writeStream wrapper (checkpoint + availableNow + idempotent
    batch dirs) drains the file source and lands the same history as
    the batch rebuild."""
    from chinook_music_database_analysis_spark.operators.temporal import scd2_history
    from chinook_music_database_analysis_spark.sources import load_tables
    from chinook_music_database_analysis_spark.streaming.scd2 import (
        read_history,
        start_scd2_sink,
    )

    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    q = start_scd2_sink(read_events_stream(spark, SF_TEST_DIR), log, ckpt)
    q.awaitTermination(120)
    ev = load_tables(spark, SF_TEST_DIR)["events"]
    want = {
        _hist_key(r): _hist_tuple(r)
        for r in scd2_history(ev, keep_tiebreak=True).collect()
    }
    got = {_hist_key(r): _hist_tuple(r) for r in read_history(spark, log).collect()}
    assert got == want and want


def test_scd2_refuses_genuinely_late_events_but_allows_replay(spark, tmp_path):
    """The fold watermark distinguishes REPLAY (old event_ids — re-fold
    is a no-op, recovery stays idempotent) from genuinely LATE new
    events (ts behind the watermark, new event_id — correct folding may
    need discarded continuation evidence), refusing only the latter."""
    import pytest as _pytest

    from chinook_music_database_analysis_spark.streaming.scd2 import (
        LateEventError,
        apply_scd2_batch,
    )

    def ev(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_type string, tsec long, event_id long"
        ).selectExpr(
            "user_id", "event_type",
            "timestamp_micros(tsec * 1000000) AS ts", "event_id",
        )

    log = str(tmp_path / "log")
    apply_scd2_batch(ev([(1, "a", 10, 0), (1, "a", 20, 1), (1, "b", 30, 2)]), 0, log)
    # replay of already-folded events (old ids, old ts): fine
    apply_scd2_batch(ev([(1, "a", 20, 1), (1, "b", 30, 2)]), 1, log)
    # genuinely late NEW event (ts 25 < watermark 30, event_id 5 new)
    with _pytest.raises(LateEventError):
        apply_scd2_batch(ev([(1, "c", 25, 5)]), 2, log)
    # in-order continuation with a new id: accepted
    apply_scd2_batch(ev([(1, "b", 40, 6)]), 3, log)


def test_scd2_backfill_repairs_late_events(spark, tmp_path):
    """LateEventError -> backfill_scd2: after the repair, the log reads
    identically to a batch rebuild over the true event stream INCLUDING
    the late event, and other users' histories are untouched."""
    import pytest as _pytest

    from chinook_music_database_analysis_spark.operators.temporal import scd2_history
    from chinook_music_database_analysis_spark.streaming.scd2 import (
        LateEventError,
        apply_scd2_batch,
        backfill_scd2,
        read_history,
    )

    def ev(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_type string, tsec long, event_id long"
        ).selectExpr(
            "user_id", "event_type",
            "timestamp_micros(tsec * 1000000) AS ts", "event_id",
        )

    on_time = [
        (1, "a", 10, 0), (1, "a", 20, 1), (1, "b", 30, 2),
        (2, "a", 10, 3), (2, "c", 40, 4),
    ]
    late_rows = [(1, "c", 25, 9)]  # splits user 1's compressed a-run
    log = str(tmp_path / "log")
    apply_scd2_batch(ev(on_time), 0, log)
    with _pytest.raises(LateEventError):
        apply_scd2_batch(ev(late_rows), 1, log)
    backfill_scd2(ev(on_time), ev(late_rows), 1, log)

    want = {
        (r.user_id, r.version): (r.state, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_history(ev(on_time + late_rows)).collect()
    }
    got = {
        (r.user_id, r.version): (r.state, r.valid_from, r.valid_to, r.is_current)
        for r in read_history(spark, log).collect()
    }
    assert got == want
    # the repaired user-1 history actually contains the late 'c' regime
    assert any(u == 1 and v[0] == "c" for (u, _), v in got.items())


def test_scd2_corrupt_log_propagates_and_consult_is_user_bounded(spark, tmp_path):
    """r8 hardening regressions: (a) an EXISTING but unreadable history
    log raises instead of being silently treated as 'no log yet' (the
    bare-except form folded the batch without prior history and
    truncated affected users); (b) the per-batch log consult is
    restricted to the batch's users BEFORE the latest-wins window, so
    its plan carries a LeftSemi against the (small) affected set —
    never a whole-log broadcast of every user's marks."""
    import pytest as _pytest

    from chinook_music_database_analysis_spark.streaming.scd2 import (
        _latest_rows,
        apply_scd2_batch,
    )

    def ev(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_type string, tsec long, event_id long"
        ).selectExpr(
            "user_id", "event_type",
            "timestamp_micros(tsec * 1000000) AS ts", "event_id",
        )

    # (a) corrupt log: the dir exists but holds junk bytes — the read
    # failure must propagate, never silently start a fresh history.
    bad = tmp_path / "badlog"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with _pytest.raises(Exception) as exc:
        apply_scd2_batch(ev([(1, "a", 10, 0)]), 0, str(bad))
    assert "no log yet" not in str(exc.value)

    # (b) the bounded consult: build a real log, then check the
    # users-restricted read plans a LeftSemi before the window.
    log = str(tmp_path / "log")
    apply_scd2_batch(ev([(1, "a", 10, 0), (2, "a", 10, 1)]), 0, log)
    users = spark.createDataFrame([(1,)], "user_id long")
    plan = (
        _latest_rows(spark, log, users=users)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan
    # and the batch apply keeps working against the bounded consult
    apply_scd2_batch(ev([(1, "b", 20, 2)]), 1, log)


def test_incremental_cms_log_maintenance(spark, tmp_path):
    """Streaming-maintained count-min register log: (1) the folded log
    is BIT-IDENTICAL to a one-shot sketch over the whole stream (sum
    merge is associative — the additive mergeable-summaries rule);
    (2) a replayed batch leaves every register unchanged because the
    batch_id=N overwrite directory absorbs it — and the test also
    shows the hazard the discipline exists for: the same registers
    appended under a FRESH batch_id genuinely double-count."""
    import shutil

    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.streaming.sketches import (
        batch_cms,
        cms_registers_from_log,
        start_cms_log_sink,
        write_batch,
    )

    log, ckpt = str(tmp_path / "cms_log"), str(tmp_path / "cms_ckpt")
    q = start_cms_log_sink(
        read_events_stream(spark, SF_TEST_DIR), "user_id", log, ckpt
    )
    q.awaitTermination()

    events = spark.read.parquet(f"{SF_TEST_DIR}/events.parquet")
    one_shot = {
        (r.d, r.bucket): r.cnt for r in batch_cms(events, "user_id").collect()
    }
    folded = {
        (r.d, r.bucket): r.cnt
        for r in cms_registers_from_log(spark, log).collect()
    }
    assert folded == one_shot

    # Replay batch 0 (same batch_id): overwrite-idempotent, no change.
    write_batch(batch_cms(events, "user_id"), 0, log)
    assert {
        (r.d, r.bucket): r.cnt
        for r in cms_registers_from_log(spark, log).collect()
    } == one_shot

    # The counter-example: the same increment under a NEW batch_id
    # double-counts — additive sketches have no value idempotence.
    write_batch(batch_cms(events, "user_id"), 9999, log)
    doubled = {
        (r.d, r.bucket): r.cnt
        for r in cms_registers_from_log(spark, log).collect()
    }
    assert doubled == {k: 2 * v for k, v in one_shot.items()}
    shutil.rmtree(f"{log}/batch_id=9999")


def test_incremental_bloom_log_maintenance(spark, tmp_path):
    """Streaming-maintained Bloom word log: the folded log is
    bit-identical to a one-shot build over the whole stream, a
    replayed batch changes no bit EVEN under a fresh batch_id (OR is
    idempotent — the property CMS lacks), and the folded filter prunes
    facts exactly like the batch-built filter."""
    from chinook_music_database_analysis_spark.operators.sketch import (
        bloom_prune,
    )
    from chinook_music_database_analysis_spark.streaming.sketches import (
        batch_bloom,
        bloom_words_from_log,
        start_bloom_log_sink,
        write_batch,
    )

    log, ckpt = str(tmp_path / "bloom_log"), str(tmp_path / "bloom_ckpt")
    q = start_bloom_log_sink(
        read_events_stream(spark, SF_TEST_DIR), "user_id", log, ckpt
    )
    q.awaitTermination()

    events = spark.read.parquet(f"{SF_TEST_DIR}/events.parquet")
    one_shot = {
        r.word: r.bits for r in batch_bloom(events, "user_id").collect()
    }
    folded = {
        r.word: r.bits for r in bloom_words_from_log(spark, log).collect()
    }
    assert folded == one_shot

    # replay under a FRESH batch_id: OR-idempotent, no bit changes
    write_batch(batch_bloom(events, "user_id"), 9999, log)
    assert {
        r.word: r.bits for r in bloom_words_from_log(spark, log).collect()
    } == one_shot

    # the folded filter prunes exactly like the batch-built one
    probe = events.select("event_id", "user_id")
    got = {
        r.event_id
        for r in bloom_prune(
            probe, "user_id", bloom_words_from_log(spark, log)
        ).collect()
    }
    want = {
        r.event_id
        for r in bloom_prune(
            probe, "user_id", batch_bloom(events, "user_id")
        ).collect()
    }
    assert got == want and len(got) == probe.count()  # every seen key passes


def test_moments_stream_fold_matches_batch_model(spark, tmp_path):
    """Streaming PCA moment maintenance (streaming/moments.py): a real
    file stream (maxFilesPerTrigger=1 -> multiple micro-batches) folds
    Arrow moment partials into the batch_id-keyed log via foreachBatch;
    the model rebuilt from the LOG must be bit-identical to the
    one-shot batch model (mergeability), and re-applying a batch_id
    must REPLACE its rows, not append (idempotency under checkpoint
    replay)."""
    import glob
    import os

    from chinook_music_database_analysis_spark.operators.similarity import (
        embedding_moment_partials,
        pca_power_model,
    )
    from chinook_music_database_analysis_spark.streaming.moments import (
        apply_moments_batch,
        read_partials,
        start_moments_sink,
    )

    emb = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
    src = str(tmp_path / "src")
    emb.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    log, ck = str(tmp_path / "log"), str(tmp_path / "ck")
    q = start_moments_sink(stream, log, ck)
    q.awaitTermination()

    assert len(glob.glob(os.path.join(log, "batch_id=*"))) >= 2

    def model(parts_df):
        return pca_power_model(
            [(r["n"], r["s"], r["ss"]) for r in parts_df.collect()]
        )

    folded = model(read_partials(spark, log))
    one = model(embedding_moment_partials(emb))
    assert folded["m_q"] == one["m_q"]
    assert folded["mu_q"] == one["mu_q"]
    assert folded["comps"] == one["comps"]

    # replay idempotency: writing the same batch_id twice REPLACES
    first = spark.read.parquet(
        sorted(glob.glob(os.path.join(src, "*.parquet")))[0]
    )
    apply_moments_batch(first, 99, log)
    m1 = model(read_partials(spark, log))
    apply_moments_batch(first, 99, log)
    m2 = model(read_partials(spark, log))
    assert m1["m_q"] == m2["m_q"] and m1["comps"] == m2["comps"]


def test_scd2_replay_without_aqe_and_after_partial_commit(spark, tmp_path):
    """r10 review regressions.  (1) Replay must not depend on AQE
    accidentally materializing the prior read before the overwrite
    deletes the replayed batch's own directory: with adaptive
    execution OFF, re-applying a batch used to crash with
    FAILED_READ_FILE (the scan listed the batch_id=N dir its own
    write then removed).  (2) A crash mid job-commit leaves a PARTIAL
    batch_id=N dir; replay must ignore it as prior state (the
    before_batch filter) and rebuild from clean < N state — reading
    it as authoritative silently truncated affected users' histories.
    Both now hold because batch N's apply consults only batch_id < N."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.temporal import scd2_history
    from chinook_music_database_analysis_spark.sources import load_tables
    from chinook_music_database_analysis_spark.streaming.scd2 import (
        apply_scd2_batch,
        read_history,
    )

    ev = load_tables(spark, SF_TEST_DIR)["events"].select(
        "user_id", "event_type", "ts", "event_id"
    )
    t1 = ev.selectExpr("percentile(unix_micros(ts), 0.5)").first()[0]
    us = F.unix_micros("ts")
    slices = [ev.filter(us <= t1), ev.filter(us > t1)]
    want = {
        _hist_key(r): _hist_tuple(r)
        for r in scd2_history(ev, keep_tiebreak=True).collect()
    }

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # (1) build + replay the last batch with AQE off
        log = str(tmp_path / "scd2_log_noaqe")
        for i, b in enumerate(slices):
            apply_scd2_batch(b, i, log)
        apply_scd2_batch(slices[1], 1, log)  # crashed pre-fix
        got = {
            _hist_key(r): _hist_tuple(r) for r in read_history(spark, log).collect()
        }
        assert got == want and want
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

    # (2) partial-commit poisoning: simulate a crash mid job-commit by
    # truncating batch 1's dir to a subset of its rows (as if only some
    # task files had been moved), then replay batch 1 — the truncated
    # dir must be IGNORED as prior state and the rebuilt history must
    # equal the full rebuild.
    log2 = str(tmp_path / "scd2_log_partial")
    for i, b in enumerate(slices):
        apply_scd2_batch(b, i, log2)
    full_b1 = spark.read.parquet(f"{log2}/batch_id=1").toPandas()
    truncated = full_b1[full_b1.user_id % 2 == 0]
    assert 0 < len(truncated) < len(full_b1), "fixture must really truncate"
    spark.createDataFrame(truncated).write.mode("overwrite").parquet(
        f"{log2}/batch_id=1"
    )
    apply_scd2_batch(slices[1], 1, log2)
    got2 = {
        _hist_key(r): _hist_tuple(r) for r in read_history(spark, log2).collect()
    }
    assert got2 == want


def test_synthetic_stream_restart_resumes_exactly(spark, tmp_path):
    """A restarted process constructs a FRESH stream reader whose
    cursor starts at 0; without the offset ratchet six restarts never
    progressed past the first batch and the offset WAL could regress
    (r10 review).  Now each availableNow restart advances exactly one
    batch from the committed offset, drains at max_rows, and never
    emits a duplicate row."""
    from chinook_music_database_analysis_spark.sources.synthetic import register

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.format("synthevents")
            .option("rows_per_batch", 100)
            .option("max_rows", 300)
            .option("n_partitions", 4)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    seen = []
    for _ in range(4):
        run()
        df = spark.read.parquet(out)
        n = df.count()
        assert df.select("event_id").distinct().count() == n  # no dupes
        seen.append(n)
    assert seen == [100, 200, 300, 300], seen


def test_synthetic_batch_equals_stream_and_layout_independent(spark):
    """One deterministic generator for both modes: a batch read's rows
    must equal the stream reader's for the same seed, and batch
    content must not change with the n_partitions option (r10 review:
    per-partition hashing broke both properties)."""
    from chinook_music_database_analysis_spark.sources.synthetic import (
        generate_rows,
        register,
    )

    register(spark)

    def batch(parts):
        return sorted(
            map(
                tuple,
                spark.read.format("synthevents")
                .option("n_rows", 400)
                .option("n_partitions", parts)
                .option("n_users", 20)
                .load()
                .collect(),
            )
        )

    a, b = batch(4), batch(7)
    assert a == b  # layout-independent
    want = sorted(generate_rows(7, 20, 0, 400))
    assert a == want  # batch == stream generator


def test_interval_join_drain_conf_is_output_invariant(spark):
    """The r11 bench drains the INNER interval join with right-sized
    state partitions and the trailing no-data micro-batch disabled
    (streaming.events.scoped_streaming_conf) — both are pure
    state-sharding / commit-cycle knobs for this shape: the inner
    symmetric hash join emits every match eagerly during addBatch and
    the availableNow drain tears state down at termination, so the
    result set must be IDENTICAL to the default-config drain.  This
    gate is what lets the bench skip the cleanup batch honestly; the
    left-outer variant is excluded by design (its NULL rows flush on
    the watermark the no-data batch advances)."""
    from chinook_music_database_analysis_spark.streaming.events import (
        interval_join_stream,
        scoped_streaming_conf,
        state_partitions_for,
    )

    base = run_to_memory(
        interval_join_stream(read_events_stream(spark, SF_TEST_DIR)),
        "ij_conf_base",
    ).toPandas()
    with scoped_streaming_conf(spark, state_partitions_for(1), no_data_batch=False):
        tuned = run_to_memory(
            interval_join_stream(read_events_stream(spark, SF_TEST_DIR)),
            "ij_conf_tuned",
        ).toPandas()
    # conf restored after the scope
    assert spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "true"
    key = ["err_id", "user_id", "err_ts", "click_ts", "click_value"]
    a = set(map(tuple, base[key].astype(str).itertuples(index=False)))
    b = set(map(tuple, tuned[key].astype(str).itertuples(index=False)))
    assert a == b and a


def test_state_partitions_for_bounds():
    from chinook_music_database_analysis_spark.streaming.events import (
        STATE_ROWS_PER_PARTITION,
        state_partitions_for,
    )

    assert state_partitions_for(0) == 4
    assert state_partitions_for(STATE_ROWS_PER_PARTITION * 6) == 6
    assert state_partitions_for(10**9) == 200  # the 100 TB ceiling governs
    assert state_partitions_for(10**9, hi=400) == 400
