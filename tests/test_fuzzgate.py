"""Adversarial-corpus regression gate (compact form of
scripts/fuzzgate.py, which sweeps the FULL registry over three mutation
variants at round close).

The r12 fuzz sweep found ~30 defects invisible on the benign driver
corpus: NULL-text docs pairing with each other through a manufactured
'' shingle, NULL grouping/join keys silently dropped by equi-joins the
operators did not intend as filters, NULLS FIRST/LAST divergence in
window orderings, nullable-boolean output columns that round-trip as
None on one engine and NaN on the other, and ANSI-mode crashes
(DIVIDE_BY_ZERO on zero-norm embeddings, NumberFormatException on
nested JSON).  This module pins one representative query per fixed
class against the NULL-injection corpus plus the crash class against
the edge corpus, so the classes cannot silently recur between
round-close sweeps.

Corpora are built by scripts/fuzzgate.py's seeded mutators into tmp —
deterministic, ~1 s to write; each query compare is the driver mirror.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from chinook_music_database_analysis_spark.plans import ORACLES, QUERIES
from chinook_music_database_analysis_spark.testing import oracle_connection

from conftest import assert_frames_match

#: one representative per r12 fuzz-fix class, nulls corpus.
NULLS_REPS = [
    "dd_minhash_pairs",       # null-text '' shingle mega-cluster
    "cur_contamination_report",  # oracle-side NULL "shingle" row
    "ev_bloom_prune",         # oracle inner join dropped NULL-user events
    "ev_unpivot_user_types",  # null-safe pivot-group join
    "ev_scd2_incremental",    # maintainer ns-joins + NULL-state ingest drop
    "ev_scd2_pit_lookup",     # asof_join NULL-key JOIN semantics
    "cur_temperature_mix",    # None-key sort crash + NULL-source exclusion
    "cur_stats_approx",       # rank-based sketch tolerance
    "cur_winsorize",          # nullable-boolean output column
    "tx_gopher_quality",      # NULL verdicts coalesced FALSE
    "tx_length_quantiles",    # histogram sample-size vs COUNT(*)
    "q16_order_value_frames", # NULLS FIRST/LAST window ordering
    "s04_affinity_types_scaled",  # NULL type paired by in-row enumeration
]

#: skew representatives: hot grouping/join keys must stay
#: VALUE-correct (giant rank groups, hot join sides, multiplicity
#: compression, per-domain caps, the skew-salted join itself).
SKEW_REPS = [
    "q02_top_parts_nation0",      # two-stage global rank over hot part groups
    "ev_heavy_keys",              # Misra-Gries on its native input shape
    "s15_skew_salted",            # the salted-join query under real skew
    "s04_affinity_types_scaled",  # multiplicity-product pair counts, one hot type
    "cur_domain_cap",             # per-domain cap with one dominating domain
]

#: ANSI crash class representatives, edge corpus (zero-norm vectors,
#: nested JSON payloads).
EDGE_REPS = [
    "sim_bruteforce_topk",    # try_divide zero-norm cosine
    "sim_outlier_audit",      # NULL-z ordering + zero-norm stats
    "ev_json_extract",        # try_cast nested JSON
    "ev_json_variant",        # try_variant_get nested JSON
]


@pytest.fixture(scope="module")
def fuzz_dirs():
    import fuzzgate

    # STABLE path (not pytest tmp): corpora are seed-deterministic, so
    # a fixed location lets the fingerprint-keyed index store reuse its
    # entries across suite runs — a per-run tmp dir would accrete two
    # orphaned .index entries every run.
    root = os.path.join(os.path.dirname(__file__), "..", ".scratch", "fuzz_ci")
    old_out = fuzzgate.OUT_ROOT
    fuzzgate.OUT_ROOT = os.path.abspath(root)
    try:
        yield {v: fuzzgate.build_corpus(v) for v in ("nulls", "edge", "skew")}
    finally:
        fuzzgate.OUT_ROOT = old_out


@pytest.mark.parametrize("name", NULLS_REPS)
def test_nulls_corpus_parity(spark, fuzz_dirs, name):
    sf_dir = fuzz_dirs["nulls"]
    con = oracle_connection(sf_dir)
    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    oracle_pdf = con.sql(ORACLES[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"nulls:{name}")


@pytest.mark.parametrize("name", SKEW_REPS)
def test_skew_corpus_parity(spark, fuzz_dirs, name):
    sf_dir = fuzz_dirs["skew"]
    con = oracle_connection(sf_dir)
    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    oracle_pdf = con.sql(ORACLES[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"skew:{name}")


@pytest.mark.parametrize("name", EDGE_REPS)
def test_edge_corpus_parity(spark, fuzz_dirs, name):
    sf_dir = fuzz_dirs["edge"]
    con = oracle_connection(sf_dir)
    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    oracle_pdf = con.sql(ORACLES[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"edge:{name}")


# ---------------------------------------------------------------------------
# Streaming on the NULL corpus: the stream-vs-batch equivalences in
# test_streaming.py run on the clean driver corpus, so streaming-state
# NULL-key handling (groupBy state keys, dropDuplicates state,
# stream-stream join keys) had the same blind spot the batch fuzz
# sweep closed.
# ---------------------------------------------------------------------------


def test_tumbling_stream_matches_batch_on_null_corpus(spark, fuzz_dirs):
    from chinook_music_database_analysis_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        tumbling_counts_stream,
    )

    sf_dir = fuzz_dirs["nulls"]
    stream = tumbling_counts_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "fz_tumbling", output_mode="complete").toPandas()
    want = QUERIES["ev_tumbling_1h"](spark, sf_dir).toPandas()
    assert_frames_match(got, want, "nulls:tumbling_stream_vs_batch")


def test_dedup_stream_keys_match_batch_on_null_corpus(spark, fuzz_dirs):
    from chinook_music_database_analysis_spark.streaming.events import (
        dedup_within_watermark_stream,
        read_events_stream,
        run_to_memory,
    )

    sf_dir = fuzz_dirs["nulls"]
    stream = dedup_within_watermark_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "fz_dedup", output_mode="append").toPandas()
    want = QUERIES["ev_dedup_first"](spark, sf_dir).toPandas()

    # NULL keys must form ONE dedup state group (like batch), not leak
    # one row per NULL-key event.  NaN != NaN in tuple sets, so
    # normalize the NULL key before comparing.
    def keys(df):
        return {
            (None if pd.isna(u) else u, None if t is None else t)
            for u, t in df[["user_id", "event_type"]].itertuples(index=False)
        }

    assert keys(got) == keys(want)
    assert len(got) == len(want)


def test_stateful_totals_handle_null_state_key(spark, fuzz_dirs):
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.streaming.events import (
        read_events_stream,
    )
    from chinook_music_database_analysis_spark.streaming.stateful import (
        user_running_totals_stream,
    )

    sf_dir = fuzz_dirs["nulls"]
    stream = user_running_totals_stream(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("fz_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("fz_state")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .toPandas()
    )
    want = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    key = lambda df: df.assign(  # noqa: E731 — NULL key sorts like any group
        k=df.user_id.fillna(-1)
    ).sort_values("k").reset_index(drop=True)
    g, w = key(got), key(want)
    assert (g.k == w.k).all() and (g.n_events == w.n_events).all()


def test_interval_join_stream_matches_batch_on_null_corpus(spark, fuzz_dirs):
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.temporal import range_join
    from chinook_music_database_analysis_spark.sources import load_tables
    from chinook_music_database_analysis_spark.streaming.events import (
        interval_join_stream,
        read_events_stream,
        run_to_memory,
    )

    sf_dir = fuzz_dirs["nulls"]
    stream = interval_join_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "fz_interval", output_mode="append").toPandas()
    ev = load_tables(spark, sf_dir)["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    want = range_join(errors, clicks, key="user_id", width_us=600_000_000).toPandas()
    got_pairs = {tuple(r) for r in got[["err_id", "click_ts"]].itertuples(index=False)}
    want_pairs = {tuple(r) for r in want[["err_id", "ts_r"]].itertuples(index=False)}
    assert got_pairs == want_pairs and got_pairs


def test_bucketed_totals_match_per_key_on_null_corpus(spark, fuzz_dirs):
    """r12: the bucketed totals variant must equal the per-key variant
    on a corpus with NULL user_ids AND NULL values — pandas groupby
    drops NaN keys (losing the NULL-user state group) and "count"
    skips NULL values (the per-key variant counts rows); both fixed
    with this as the pin."""
    from chinook_music_database_analysis_spark.streaming.events import (
        read_events_stream,
    )
    from chinook_music_database_analysis_spark.streaming.stateful import (
        user_running_totals_bucketed_stream,
        user_running_totals_stream,
    )

    sf_dir = fuzz_dirs["nulls"]

    def drain(builder, name):
        q = (
            builder(read_events_stream(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        df = spark.table(name).toPandas()
        # availableNow may split the drain across micro-batches, and
        # the two variants need not batch identically — compare each
        # user's FINAL running totals (max n_events row).
        df = df.sort_values(["n_events"]).groupby("user_id", dropna=False).last()
        return df.sort_index().reset_index()

    got = drain(user_running_totals_bucketed_stream, "fz_bkt_totals")
    want = drain(user_running_totals_stream, "fz_perkey_totals")
    assert got.shape == want.shape, (got.shape, want.shape)
    assert (got["user_id"].isna() == want["user_id"].isna()).all()
    assert got["user_id"].isna().any()  # the corpus really has NULL keys
    assert (got["n_events"] == want["n_events"]).all()
    assert (got["total_value"] == want["total_value"]).all()


def test_vt_whitespace_divergence_contract(spark):
    """Canary for the fuzz-corpus contract that excludes U+000B: Java
    regex \\s includes VT, RE2's does not.  If an engine upgrade makes
    these agree, the exclusion (scripts/fuzzgate.py docstring) should
    be lifted and VT injected like the other control chars."""
    from pyspark.sql import functions as F

    txt = "a\x0bb c"
    n_spark = (
        spark.range(1)
        .select(F.size(F.split(F.lit(txt), r"\s+")).alias("n"))
        .collect()[0]["n"]
    )
    n_duck = duckdb.sql(
        "SELECT len(string_split_regex(?, '\\s+')) AS n", params=[txt]
    ).fetchone()[0]
    assert n_spark == 3  # Java \s splits on VT
    assert n_duck == 2   # RE2 \s does not
    # ...and every injected control char still agrees:
    agree = "x\x00\x01\x07\x1b\x7f\x1c\x1d\x1e\x1fy z"
    n_s = (
        spark.range(1)
        .select(F.size(F.split(F.lit(agree), r"\s+")).alias("n"))
        .collect()[0]["n"]
    )
    n_d = duckdb.sql(
        "SELECT len(string_split_regex(?, '\\s+')) AS n", params=[agree]
    ).fetchone()[0]
    assert n_s == n_d == 2


def test_single_quote_json_divergence_contract(spark):
    """Canary for the fuzz-corpus contract that excludes single-quoted
    JSON: Spark's get_json_object (Jackson) leniently extracts from
    {'k': 5}, DuckDB's json_valid rejects it.  If an upgrade aligns
    them, inject the shape like the other malformed payloads."""
    from pyspark.sql import functions as F

    doc = "{'k': 5}"
    got = (
        spark.range(1)
        .select(F.get_json_object(F.lit(doc), "$.k").alias("k"))
        .collect()[0]["k"]
    )
    assert got == "5"  # Jackson leniency
    assert duckdb.sql("SELECT json_valid(?)", params=[doc]).fetchone()[0] is False
