"""User-facing engine facade.

The reference workload is "a session bound to the chinook database
plus 19 analytical statements" (ref /root/reference/SQL_file.sql:1).
The engine equivalent: one object owning a SparkSession with every
table (and the derived view) registered, exposing

* ``engine.sql(text)``      — raw Spark SQL over the registered views
  (entry point 1 of SURVEY.md §3.1),
* ``engine.query(name)``    — the typed query registry (every SURVEY
  §2.12 parity query + every extension),
* ``engine.explain(name)``  — the EXPLAIN surface (formatted physical
  plan, SURVEY §3.1 step 6),
* ``engine.profile(name)``  — one timed run with its executed plan
  (:func:`profile_query`, the one place a registered query is timed),
* ``engine.tables``         — the catalog.

Usage::

    from chinook_music_database_analysis_spark.engine import Engine
    eng = Engine(sf_dir="/root/testdata/sf0.01")
    eng.query("q02_top_parts_nation0").show()
    eng.sql("SELECT * FROM nation0_type_sales ORDER BY rnk").show()
"""

from __future__ import annotations

import re
import time

from pyspark.sql import DataFrame, SparkSession

from . import store
from .plans import ORACLES, QUERIES
from .sources import get_spark, register_views
from .sources.session import DEFAULT_SF_DIR

#: ``plan_stats`` operator counters, matched on the final physical tree.
_OPERATORS = {
    "exchanges": r"\bExchange\b",
    "smj": r"\bSortMergeJoin\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "shj": r"\bShuffledHashJoin\b",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cart": r"CartesianProduct",
    "pyeval": r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas",
    "scans": r"Scan parquet|BatchScan",
    "sorts": r"\bSort\b",
    "window": r"\bWindow\b",
    "aggs": r"HashAggregate|SortAggregate|ObjectHashAggregate",
    "rowtojvm": r"RowToColumnar|ColumnarToRow",
}


def profile_query(spark: SparkSession, sf_dir: str, name: str) -> dict:
    """Run registered query ``name`` once, timed in three layers, and
    return the plan that run executed.

    * ``build_sec``: the builder call (Python, py4j, Catalyst analysis).
    * ``plan_sec``: forcing the DataFrame's own executed plan
      (optimization and physical planning).  A memoized DataFrame
      (see :mod:`cache`) keeps its plan, so it pays this once per
      session and later calls read ~0.
    * ``wall_sec``: a ``noop``-format write, which computes every
      output column (a ``count()`` lets Catalyst prune the projections
      it does not need).  The write plans again inside its own
      QueryExecution, and that cost lands here, not in ``plan_sec``.
    * ``compiles``: how many generated classes were compiled during
      the write (Spark's ``CodegenMetrics`` compilation counter), i.e.
      misses of the compiled-class cache.  The counter is the driver
      JVM's, so it sees every compilation only in local mode, where
      the executor threads share that JVM.  No plan shows this layer.

    ``plan`` is the formatted physical plan of that write, read from
    the SQL status store after the timer stops, so it works with the
    UI disabled; an adaptive plan shows its final tree.  It is the
    session's latest SQL execution, so no other thread may run SQL on
    the session meanwhile.  ``plan_stats`` counts operators on the
    final tree only (the description repeats the initial tree and the
    node details) and flags a session-memo relation (``memo``) and a
    scan of the index store (``store``) anywhere in the description,
    because the store path shows only in the node details.
    """
    t0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n0 = compiled.getCount()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    compiles = compiled.getCount() - n0
    # The status store is fed by the listener bus: drain it so the
    # write's end and final-plan events have landed.
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    status = spark._jsparkSession.sharedState().statusStore()
    last = status.executionsList(int(status.executionsCount()) - 1, 1).apply(0)
    plan = last.physicalPlanDescription()
    tree = plan.split("\n\n", 1)[0].split("== Initial Plan ==", 1)[0]
    stats = {key: len(re.findall(pat, tree)) for key, pat in _OPERATORS.items()}
    stats["memo"] = "InMemoryRelation" in plan
    stats["store"] = store.ROOT in plan
    return {
        "query": name,
        "build_sec": round(t1 - t0, 3),
        "plan_sec": round(t2 - t1, 3),
        "wall_sec": round(t3 - t2, 3),
        "compiles": compiles,
        "plan": plan,
        "plan_stats": stats,
    }


class Engine:
    """A session + catalog + query registry bound to one data directory."""

    def __init__(self, sf_dir: str = DEFAULT_SF_DIR, spark: SparkSession | None = None):
        self.spark = spark or get_spark("chinook-engine")
        self.sf_dir = sf_dir
        self.tables = register_views(self.spark, sf_dir)

    # -- entry point 1: SQL text ------------------------------------------------
    def sql(self, text: str) -> DataFrame:
        """Run Spark SQL against the registered catalog (tables + the
        nation0_type_sales view)."""
        return self.spark.sql(text)

    # -- entry point 2: typed registry -----------------------------------------
    def query(self, name: str) -> DataFrame:
        """Build a registered query's DataFrame (lazily; no action run)."""
        return QUERIES[name](self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        return sorted(QUERIES)

    def oracle(self, name: str) -> str | None:
        """The ANSI-SQL oracle text for a query (None for ops that have
        no SQL equivalent)."""
        return ORACLES.get(name)

    # -- inspection -------------------------------------------------------------
    def explain(self, name: str, mode: str = "formatted") -> str:
        """The EXPLAIN surface: Catalyst's plan for a registered query.

        Uses the public ``DataFrame.explain`` (stdout-captured), so it
        works under Spark Connect and across minor versions — no
        ``_jvm``/``_jdf`` internals.
        """
        import contextlib
        import io

        df = self.query(name)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode=mode)
        return buf.getvalue()

    def profile(self, name: str) -> dict:
        """:func:`profile_query` on this engine's session and data
        directory, plus ``n_rows`` from a separate, untimed
        ``count()`` — what a CLI health check needs without a UI."""
        prof = profile_query(self.spark, self.sf_dir, name)
        prof["n_rows"] = self.query(name).count()
        return prof

    def validate(self, name: str) -> dict:
        """Run a registered query AND its DuckDB oracle on this
        engine's data directory and compare exactly (row count, column
        set, order-insensitive values) — the correctness harness as a
        first-class API, so a deployment can spot-check any query
        against an independent engine without the test suite.  Values
        use the driver compare the test suite and the fuzz gate share
        (:func:`testing.frames_mismatch`).

        Returns {"query", "rows_match", "schema_match", "values_match",
        "spark_rows", "oracle_rows"}; queries without an oracle (none
        currently) report {"oracle": None}.
        """
        from .testing import frames_mismatch, oracle_connection

        oracle = ORACLES.get(name)
        if oracle is None:
            return {"query": name, "oracle": None}
        spark_pdf = self.query(name).toPandas()
        con = oracle_connection(self.sf_dir)
        try:
            oracle_pdf = con.sql(oracle).df()
        finally:
            con.close()
        return {
            "query": name,
            "rows_match": len(spark_pdf) == len(oracle_pdf),
            "schema_match": sorted(spark_pdf.columns) == sorted(oracle_pdf.columns),
            "values_match": frames_mismatch(spark_pdf, oracle_pdf, name) is None,
            "spark_rows": len(spark_pdf),
            "oracle_rows": len(oracle_pdf),
        }

    def validate_all(self, names: list[str] | None = None) -> dict:
        """Run :meth:`validate` over ``names`` (default: every
        registered query) and return a summary — the deployment
        health sweep: {"n", "passed", "failed": [name...],
        "errors": {name: message}}.  A failure or error never aborts
        the sweep."""
        names = sorted(QUERIES) if names is None else names
        failed: list[str] = []
        errors: dict[str, str] = {}
        for name in names:
            try:
                res = self.validate(name)
                ok = res.get("oracle", True) is None or (
                    res.get("rows_match")
                    and res.get("schema_match")
                    and res.get("values_match")
                )
                if not ok:
                    failed.append(name)
            except Exception as ex:  # sweep must report, not die
                errors[name] = f"{type(ex).__name__}: {ex}"[:200]
        return {
            "n": len(names),
            "passed": len(names) - len(failed) - len(errors),
            "failed": failed,
            "errors": errors,
        }
