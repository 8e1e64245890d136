"""Benchmark of the chinook Spark engine.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 8 --trace 0

One run is one closed-loop client in one fresh process at
``local[nproc]`` with ``nproc`` shuffle partitions, over the data under
``data/sf0.01``:

1. the cold set-up, from process start to a ready ``Engine``: interpreter
   start, the package import, ``get_spark`` (which launches the JVM),
   ``Engine`` (which registers the views), one codegen job and the
   Python-worker spin-up.  Its time is ``setup_s``;
2. the first pass: every item once, with cold session memos and an
   empty per-run index store, so the store-consuming queries (none in
   ``olap``) train their store kinds in their build call.  It is one
   sample per process, so its wall time is not an end-to-end metric
   (on a shared 4-vCPU VM the middle half of two ten-seed sets of
   ``olap`` spread 0.21 and 0.28 of their median, past the largest
   bound of 0.25); it goes to the summary line, and the
   traced run splits it into ``plans.build_first_s``,
   ``plans.plan_first_s`` and ``operators.exec_first_s``;
3. warm passes until ``--seconds`` have elapsed (at least two), which
   must train nothing;
4. an untimed result check of every query's fingerprint and every
   stream drain's input and output against ``expected.json``.

Every timed query runs ``df.write.format("noop")``, which computes every
output column and ships nothing to the driver.  The seed only permutes
item order within each pass.  The engine runs with its own defaults,
apart from the core count, the shuffle partitions, a 1g driver heap
(see ``DRIVER_MEMORY``) and where it writes: the other engine settings
a caller's environment could hold are cleared.  The
last stdout line is one JSON object: end-to-end metrics with ``--trace
0``, per-layer metrics with ``--trace 1``.  A traced run forces planning
separately, reads Spark's status store after every item and alternates
traced and untraced warm passes, so it also reports its own overhead.
Run details (and, traced, the spans) go to ``.bench_build/perfbench/``
at the checkout root.

The numbers are not comparable to the BENCH_r01-r13 files, which were
measured at local[32] with a ``count()`` action at sf0.1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter

from layers import (
    Tracer,
    cached_storage_mb,
    cpu_ticks,
    dir_usage,
    live_heap_mb,
    peak_rss_mb,
    plan_nodes,
    process_age_s,
    stage_totals,
    steal_frac,
)
from workloads import WORKLOADS, PassOrder, is_stream, stream_item

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_PATH = os.path.join(HERE, "expected.json")
OUT_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

#: name -> unit of every metric a ``--trace 0`` run prints
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

#: name -> unit of every metric a ``--trace 1`` run prints
PER_LAYER = {
    "sources.import_s": "s",
    "sources.get_spark_s": "s",
    "sources.register_views_s": "s",
    "sources.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_first_s": "s",
    "plans.plan_s": "s",
    "plans.plan_first_s": "s",
    "plans.plan_nodes": "count",
    "plans.memo_hit_frac": "ratio",
    "plans.store.train_n": "count",
    "plans.store.train_s": "s",
    "plans.store.bytes_mb": "MB",
    "plans.store.files": "count",
    "plans.store.write_amp": "ratio",
    "plans.memo.cached_plan_frac": "ratio",
    "plans.memo.storage_mb": "MB",
    "plans.memo.live_heap_mb": "MB",
    "operators.exec_s": "s",
    "operators.exec_first_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.core_util": "ratio",
    "operators.input_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.rows_out": "count",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "trace.overhead_s": "s",
    "trace.item_self_s": "s",
    "trace.coverage": "ratio",
}

#: engine settings read from the environment; cleared so that the
#: caller's environment cannot change what is measured
ENGINE_ENV = (
    "SPARK_ADVISORY_PARTITION_BYTES",
    "SPARK_AQE_PARALLELISM_FIRST",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_PLAN_MEMO",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_VECTOR_DOT",
    "SPARK_MASTER",
)
#: driver heap cap.  The engine's default (8g) lets the heap of a run
#: over 2 MB of data grow until G1 happens to collect, so peak RSS swung
#: between 1.8 and 2.9 GB across two runs of one workload (and between
#: 1.4 and 1.8 GB across five at 2g); a 1g cap keeps the memory figures
#: about live data and the run small.
DRIVER_MEMORY = "1g"
#: a run that is still going after this many seconds fails
RUN_DEADLINE_S = 170
#: a stream drain that has not finished after this many seconds fails
STREAM_TIMEOUT_S = 60
#: warm passes a run makes at least (untraced, traced)
MIN_WARM_PASSES = (2, 4)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="data directory")
    p.add_argument(
        "--limit", type=int, default=None,
        help="run only the first N queries (plus the stream); skips the store checks",
    )
    p.add_argument(
        "--write-expected", action="store_true",
        help="record this run's fingerprints in expected.json",
    )
    return p.parse_args(argv)


def configure_env(run_dir: str, cpus: int) -> None:
    """Point the engine at ``cpus`` cores and keep every file it writes
    under ``run_dir``.  Must run before the package is imported (the
    index root is read at import) and before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    for sub in ("index", "local", "tmp", "stream"):
        os.makedirs(os.path.join(run_dir, sub))
    for name in ENGINE_ENV:
        os.environ.pop(name, None)
    pythonpath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_SHUFFLE_PARTITIONS": str(cpus),
            "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "index"),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # Python UDF workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(pythonpath),
        }
    )
    sys.path.insert(0, ROOT)


def _passthrough(batches):
    return batches


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One benchmark run of one workload."""

    def __init__(self, args: argparse.Namespace, cpus: int, run_dir: str):
        self.args = args
        self.cpus = cpus
        self.run_dir = run_dir
        self.index_dir = os.path.join(run_dir, "index")
        self.workload = WORKLOADS[args.workload]
        self.queries = self.workload.queries[: args.limit]
        self.items = self.queries + (stream_item(self.workload.stream),)
        self.full = args.limit is None
        self.store_events: dict = {}
        self.tracer = Tracer()
        self.order = PassOrder(self.items, args.seed)
        self.cold_setup: dict = {}
        self.passes: list[dict] = []
        self.errors: list[dict] = []
        self.problems: list[str] = []
        self.attempted = 0
        self._drains = 0
        self._last_df: dict = {}
        self.config: dict = {}

    # -- set-up ---------------------------------------------------------------
    def setup(self):
        """Cold set-up: the package import, ``get_spark``, ``Engine`` and
        the warm-up jobs.  Its total runs from process start."""
        tr = self.tracer
        with tr.span("setup") as sp:
            with tr.span("import"):
                import chinook_music_database_analysis_spark as package
                from chinook_music_database_analysis_spark.engine import Engine
                from chinook_music_database_analysis_spark.plans.extensions import STORE_EVENTS
                from chinook_music_database_analysis_spark.sources import get_spark

            if os.path.commonpath([package.__file__, ROOT]) != ROOT:
                raise RuntimeError(f"engine imported from {package.__file__}, not from {ROOT}")
            with tr.span("get_spark"):
                spark = get_spark("perfbench")
            with tr.span("register_views"):
                engine = Engine(self.args.sf_dir, spark=spark)
            with tr.span("warmup"):
                spark.range(1_000_000).selectExpr("sum(id * 2)").collect()
                spark.range(64).repartition(self.cpus).mapInPandas(
                    _passthrough, "id bigint"
                ).write.format("noop").mode("overwrite").save()
            total = process_age_s()
        spark.sparkContext.setLogLevel("ERROR")
        self.store_events = STORE_EVENTS
        self.cold_setup = {c.name: c.dur for c in tr.children(sp)} | {"total": total}
        return engine

    # -- items ------------------------------------------------------------------
    def _drain(self, spark, path: str, rec: dict) -> None:
        from chinook_music_database_analysis_spark.streaming import events, postings

        self._drains += 1
        base = os.path.join(self.run_dir, "stream", str(self._drains))
        sf = self.args.sf_dir
        with self.tracer.span("build"):
            if path == "dedup_within_watermark":
                df = events.dedup_within_watermark_stream(events.read_events_stream(spark, sf))
            elif path == "postings_log":
                df = postings.read_documents_stream(spark, sf)
            else:
                raise ValueError(f"unknown stream path {path!r}")
        with self.tracer.span("exec"):
            if path == "postings_log":
                rec["log"] = os.path.join(base, "log")
                q = postings.start_postings_log_sink(df, rec["log"], os.path.join(base, "ck"))
            else:
                q = (
                    df.writeStream.format("noop")
                    .outputMode("append")
                    .option("checkpointLocation", os.path.join(base, "ck"))
                    .trigger(availableNow=True)
                    .start()
                )
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"{path} did not drain in {STREAM_TIMEOUT_S} s")
        progress = q.recentProgress
        rec["input_rows"] = sum(p["numInputRows"] for p in progress)
        if path != "postings_log":
            rec["output_rows"] = sum(p["sink"]["numOutputRows"] for p in progress)
        if self.args.trace:
            rec["stream"] = _stream_stats(progress)

    def _query(self, engine, name: str, traced: bool, rec: dict) -> None:
        tr = self.tracer
        with tr.span("build"):
            df = engine.query(name)
        if traced:
            with tr.span("plan"):
                plan = df._jdf.queryExecution().executedPlan().toString()
            rec["plan_nodes"] = plan_nodes(plan)
            rec["cached_plan"] = "InMemoryTableScan" in plan or "InMemoryRelation" in plan
        with tr.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        rec["memo_hit"] = self._last_df.get(name) is df
        self._last_df[name] = df

    def run_item(self, engine, item: str, group: str, traced: bool) -> dict:
        spark = engine.spark
        spark.sparkContext.setJobGroup(group, item)
        before = dict(self.store_events)
        rec: dict = {}
        self.attempted += 1
        with self.tracer.span("item", group) as sp:
            try:
                if is_stream(item):
                    self._drain(spark, item.split(":", 1)[1], rec)
                else:
                    self._query(engine, item, traced, rec)
            except Exception as ex:  # a failed item is recorded; the pass goes on
                rec["error"] = f"{type(ex).__name__}: {ex}"[:500]
                self.errors.append({"item": item, "group": group, "error": rec["error"]})
                print(f"# FAILED {group}: {rec['error']}", file=sys.stderr)
        rec["wall"] = sp.dur
        rec["span"] = sp.id
        rec["trained"] = sorted(
            k for k, v in self.store_events.items() if v == "train" and before.get(k) != "train"
        )
        if traced and not is_stream(item) and "error" not in rec:
            rec["stages"] = dict(stage_totals(spark, group))
        return rec

    def run_pass(self, engine, kind: str, items: list[str], traced: bool) -> dict:
        rec = {"kind": kind, "traced": traced, "items": {}}
        n = len(self.passes)
        with self.tracer.span("pass") as sp:
            for item in items:
                rec["items"][item] = self.run_item(engine, item, f"p{n}.{kind}.{item}", traced)
        rec["wall"] = sp.dur
        rec["span"] = sp.id
        if traced:
            rec["storage_mb"] = cached_storage_mb(engine.spark)
        self.passes.append(rec)
        return rec

    # -- the run ----------------------------------------------------------------
    def run(self) -> dict:
        args, w = self.args, self.workload
        trace = bool(args.trace)
        if os.listdir(self.index_dir):
            raise RuntimeError(f"index store {self.index_dir} is not empty before the first pass")
        ticks = cpu_ticks()
        with self.tracer.span("run"):
            engine = self.setup()
            self.config = self._config(engine.spark)
            # STORE_EVENTS keeps a kind's "train" over any later "load",
            # so it is cleared before each phase to see what that phase did
            self.store_events.clear()
            first = self.run_pass(engine, "first", self.order.next(), trace)
            trained = {k for k, v in self.store_events.items() if v == "train"}
            store_bytes, store_files = dir_usage(self.index_dir)
            self.store_events.clear()
            warm: list[dict] = []
            min_passes = MIN_WARM_PASSES[trace]
            t_end = time.perf_counter() + args.seconds
            while True:
                traced = trace and len(warm) % 2 == 0
                rec = self.run_pass(engine, "warm", self.order.next(), traced)
                warm.append(rec)
                if len(warm) >= min_passes and time.perf_counter() >= t_end:
                    break
            retrained = {k for k, v in self.store_events.items() if v == "train"}
            live_heap = live_heap_mb(engine.spark)
            fingerprints, wrong = self.check_results(engine, [first] + warm)
            rss = peak_rss_mb(_jvm_pid())
        engine.spark.stop()

        if self.full and trained != w.store_kinds:
            self.problems.append(f"first pass trained {sorted(trained)}, expected {sorted(w.store_kinds)}")
        if retrained:
            self.problems.append(f"stores retrained after the first pass: {sorted(retrained)}")
        if args.write_expected:
            _write_expected(os.path.basename(os.path.normpath(args.sf_dir)), fingerprints)

        untraced = [p for p in warm if not p["traced"]]
        e2e = {
            "setup_s": self.cold_setup["total"],
            "pass_s": _median([p["wall"] for p in untraced]),
            "peak_rss_mb": rss,
        }
        failed = len(self.errors)
        summary = {
            "workload": w.name,
            "seed": args.seed,
            "wrong_results_n": wrong,
            "failed_frac": failed / self.attempted,
            "attempted": self.attempted,
            "first_pass_s": first["wall"],
            "warm_passes": len(untraced),
            "host_steal_frac": steal_frac(ticks, cpu_ticks()),
            "store": {"trained": sorted(trained), "bytes": store_bytes, "files": store_files},
            "problems": self.problems,
            "errors": self.errors,
        }
        print("# perfbench summary " + json.dumps(summary))
        detail = {"config": self.config, "summary": summary, "end_to_end": e2e,
                  "setup": self.cold_setup, "fingerprints": fingerprints,
                  "passes": self.passes}
        if trace:
            metrics = self.per_layer(first, warm, fingerprints, store_bytes, store_files, trained, live_heap)
            detail["per_layer"] = metrics
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        os.makedirs(OUT_DIR, exist_ok=True)
        stem = os.path.join(OUT_DIR, f"{w.name}-seed{args.seed}" + ("-trace" if trace else ""))
        with open(stem + ".json", "w") as fh:
            json.dump(detail, fh, indent=1, default=str)
        if trace:
            self.tracer.dump(stem + ".spans.json")
        return {
            "correct": wrong == 0 and failed == 0 and not self.problems,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }

    def check_results(self, engine, passes: list[dict]) -> tuple[dict, int]:
        """Untimed: fingerprint every query and the output of every
        stream drain, and compare them with ``expected.json``.  Returns
        the fingerprints and the number of items that differ."""
        from fingerprint import fingerprint

        sf_name = os.path.basename(os.path.normpath(self.args.sf_dir))
        expected = _load_expected().get(sf_name)
        if expected is None and not self.args.write_expected:
            self.problems.append(f"expected.json has no fingerprints for {sf_name}")
        got: dict[str, list] = {}
        checks = [(name, lambda name=name: list(fingerprint(engine.query(name))))
                  for name in sorted(self.queries)]
        stream = stream_item(self.workload.stream)
        for i, p in enumerate(passes):
            it = p["items"][stream]
            if "error" not in it:
                checks.append((f"{stream}#{i}", lambda it=it: _drain_output(engine.spark, it, fingerprint)))
        drains = []
        for name, check in checks:
            self.attempted += 1
            try:
                fp = check()
            except Exception as ex:  # recorded as a failed item, the check goes on
                msg = f"{type(ex).__name__}: {ex}"[:500]
                self.errors.append({"item": name, "group": "check", "error": msg})
                print(f"# FAILED check {name}: {msg}", file=sys.stderr)
                continue
            if is_stream(name):
                drains.append(fp)
            else:
                got[name] = fp
        # every drain must give the same output; a disagreement never matches
        distinct = [json.loads(s) for s in sorted({json.dumps(d) for d in drains})]
        got[stream] = distinct[0] if len(distinct) == 1 else distinct
        wrong = 0
        if expected is not None and not self.args.write_expected:
            for name, fp in got.items():
                if expected.get(name) != fp:
                    wrong += 1
                    print(f"# WRONG {name}: got {fp}, expected {expected.get(name)}", file=sys.stderr)
        return got, wrong

    def _config(self, spark) -> dict:
        sc = spark.sparkContext
        return {
            "workload": self.workload.name,
            "items": list(self.items),
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "cpus": self.cpus,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "spark_version": spark.version,
            "sf": os.path.basename(os.path.normpath(self.args.sf_dir)),
            "action": "write.format('noop')",
            "driver_memory": sc.getConf().get("spark.driver.memory"),
        }

    def per_layer(self, first, warm, fingerprints, store_bytes, store_files, trained, live_heap) -> dict:
        tr = self.tracer
        spans = tr.spans
        traced = [p for p in warm if p["traced"]]
        untraced = [p for p in warm if not p["traced"]]

        def child_sum(p: dict, name: str, streams: bool = False) -> float:
            total = 0.0
            for item, it in p["items"].items():
                if is_stream(item) != streams:
                    continue
                total += sum(c.dur for c in tr.children(spans[it["span"]]) if c.name == name)
            return total

        def stage_sum(p: dict, key: str) -> float:
            return sum(it.get("stages", {}).get(key, 0) for it in p["items"].values())

        def per_pass(fn) -> float:
            return _median([fn(p) for p in traced])

        query_recs = [it for p in warm for k, it in p["items"].items() if not is_stream(k)]
        traced_queries = [it for p in traced for k, it in p["items"].items() if not is_stream(k)]
        stream_recs = [it["stream"] for p in traced for k, it in p["items"].items()
                       if is_stream(k) and "stream" in it]
        items = [spans[it["span"]] for p in traced for it in p["items"].values()]
        covered = sum(sum(c.dur for c in tr.children(s)) for s in items)
        training = [it for it in first["items"].values() if it["trained"]]
        train_input = sum(it.get("stages", {}).get("input_mb", 0) for it in training)
        cold = self.cold_setup
        out = {
            "sources.import_s": cold["import"],
            "sources.get_spark_s": cold["get_spark"],
            "sources.register_views_s": cold["register_views"],
            "sources.warmup_s": cold["warmup"],
            "plans.build_s": per_pass(lambda p: child_sum(p, "build")),
            "plans.build_first_s": child_sum(first, "build"),
            "plans.plan_s": per_pass(lambda p: child_sum(p, "plan")),
            "plans.plan_first_s": child_sum(first, "plan"),
            "plans.plan_nodes": sum(it.get("plan_nodes", 0) for k, it in first["items"].items()),
            "plans.memo_hit_frac": sum(it.get("memo_hit", False) for it in query_recs) / max(1, len(query_recs)),
            "plans.store.train_n": len(trained),
            "plans.store.train_s": sum(it["wall"] for it in training),
            "plans.store.bytes_mb": store_bytes / 2**20,
            "plans.store.files": store_files,
            "plans.store.write_amp": (store_bytes / 2**20) / train_input if train_input else 0.0,
            "plans.memo.cached_plan_frac": sum(it.get("cached_plan", False) for it in traced_queries)
            / max(1, len(traced_queries)),
            "plans.memo.storage_mb": per_pass(lambda p: p["storage_mb"]),
            "plans.memo.live_heap_mb": live_heap,
            "operators.exec_s": per_pass(lambda p: child_sum(p, "exec")),
            "operators.exec_first_s": child_sum(first, "exec"),
            "operators.core_util": per_pass(
                lambda p: stage_sum(p, "task_s") / (child_sum(p, "exec") * self.cpus)
            ),
            "operators.rows_out": sum(fp[0] for k, fp in fingerprints.items() if not is_stream(k)),
            "trace.overhead_s": _median([p["wall"] for p in traced]) - _median([p["wall"] for p in untraced]),
            "trace.item_self_s": _median([tr.self_time(s) for s in items]),
            "trace.coverage": covered / sum(s.dur for s in items),
        }
        for key in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "input_mb",
                    "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            out[f"operators.{key}"] = per_pass(lambda p, key=key: stage_sum(p, key))
        for key in ("batches", "add_batch_ms", "commit_ms", "planning_ms", "state_rows", "state_mb"):
            out[f"streaming.{key}"] = _median([s[key] for s in stream_recs])
        out["streaming.drain_s"] = per_pass(lambda p: child_sum(p, "exec", streams=True))
        return out


def _drain_output(spark, rec: dict, fingerprint) -> list:
    """``[input rows, output rows, output hash]`` of one drain: the
    fingerprint of the log a sink wrote, or the row count a noop sink
    reported (it keeps no rows to hash)."""
    if "log" in rec:
        log = spark.read.parquet(rec["log"])
        return [rec["input_rows"], *fingerprint(log.drop("batch_id"))]
    return [rec["input_rows"], rec["output_rows"], None]


def _stream_stats(progress: list[dict]) -> dict:
    dur = Counter()
    state_rows = state_bytes = 0
    for p in progress:
        dur.update(p["durationMs"])
        ops = p.get("stateOperators", [])
        dur["stateCommit"] += sum(op.get("commitTimeMs", 0) for op in ops)
        state_rows = max(state_rows, sum(op.get("numRowsTotal", 0) for op in ops))
        state_bytes = max(state_bytes, sum(op.get("memoryUsedBytes", 0) for op in ops))
    return {
        "batches": len(progress),
        "add_batch_ms": dur["addBatch"],
        "commit_ms": dur["walCommit"] + dur["commitOffsets"] + dur["stateCommit"],
        "planning_ms": dur["queryPlanning"],
        "state_rows": state_rows,
        "state_mb": state_bytes / 2**20,
    }


def _load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def _write_expected(sf_name: str, fingerprints: dict) -> None:
    data = _load_expected()
    data.setdefault(sf_name, {}).update(fingerprints)
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stop_jvm() -> None:
    """Stop the driver JVM this process launched and wait for it: the
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _deadline(_signum, _frame):
    raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")


def _terminated(signum, _frame):
    # unwind through main's cleanup so the JVM is stopped and waited for
    raise SystemExit(128 + signum)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(RUN_DEADLINE_S)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, cpus)
    try:
        bench = Bench(args, cpus, run_dir)
        result = bench.run()
        print("# perfbench config " + json.dumps(bench.config))
    except Exception:
        traceback.print_exc()
        print(f"# perfbench: workload {args.workload} failed; no result", file=sys.stderr)
        return 1
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
