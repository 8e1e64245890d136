"""Engine facade, remediation operators, and sink layout tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from chinook_music_database_analysis_spark import cache
from chinook_music_database_analysis_spark.cache import invalidate
from chinook_music_database_analysis_spark.engine import Engine
from chinook_music_database_analysis_spark.operators.quality import (
    drop_duplicate_keys,
    fill_missing,
    null_report,
)
from chinook_music_database_analysis_spark.sources.sinks import write_fact_by_date

from conftest import SF_TEST_DIR, write_table_dir


def test_engine_sql_entry_over_view(spark):
    eng = Engine(sf_dir=SF_TEST_DIR, spark=spark)
    pdf = eng.sql(
        "SELECT p_type, rnk FROM nation0_type_sales ORDER BY rnk"
    ).toPandas()
    # SQL entry must agree with the typed registry for the same relation.
    want = eng.query("q11_type_rank_nation0").toPandas().sort_values("rnk")
    assert list(pdf.p_type) == list(want.p_type)


def test_engine_sql_matches_dataframe_query(spark):
    eng = Engine(sf_dir=SF_TEST_DIR, spark=spark)
    got = eng.sql(
        """
        SELECT n.n_name, COUNT(o.o_orderkey) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    ).toPandas()
    want = eng.query("q04_rev_by_geo").toPandas()
    m = got.merge(want, on="n_name", suffixes=("_sql", "_df"))
    assert (m.n_orders_sql == m.n_orders_df).all()


def test_engine_explain_surface(spark):
    eng = Engine(sf_dir=SF_TEST_DIR, spark=spark)
    plan = eng.explain("q02_top_parts_nation0")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "Scan parquet" in plan


def test_quality_remediation(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (1, "a", 1.5), (2, None, None)],
        "id int, s string, v double",
    )
    assert drop_duplicate_keys(df, "id").count() == 2
    filled = fill_missing(df).toPandas()
    assert (filled.s.fillna("") != "").all()
    assert filled.v.notna().all()
    rep = null_report(df).toPandas()
    assert rep.s.iloc[0] == 1 and rep.v.iloc[0] == 1 and rep.id.iloc[0] == 0


def test_date_partitioned_sink_prunes(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_TEST_DIR}/orders.parquet")
    out = str(tmp_path / "orders_by_date")
    write_fact_by_date(orders.limit(500), out, "o_orderdate")
    back = spark.read.parquet(out)
    assert back.count() == 500
    one_day = back.select("_date").distinct().limit(1).collect()[0][0]
    pruned = back.filter(F.col("_date") == F.lit(one_day))
    # partition filter must reach the scan (pruning, not post-filter)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert pruned.count() > 0


def test_csv_json_readers_roundtrip(spark, tmp_path):
    from chinook_music_database_analysis_spark.sources.readers import read_csv, read_json

    nation = spark.read.parquet(f"{SF_TEST_DIR}/nation.parquet")
    csv_p, json_p = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    nation.write.option("header", "true").csv(csv_p)
    nation.write.json(json_p)
    schema = "n_nationkey int, n_name string, n_regionkey int"
    back_csv = read_csv(spark, csv_p, schema).toPandas().sort_values("n_nationkey")
    back_json = read_json(spark, json_p, schema).toPandas().sort_values("n_nationkey")
    want = nation.toPandas().sort_values("n_nationkey")
    assert list(back_csv.n_name) == list(want.n_name)
    assert list(back_json.n_name) == list(want.n_name)


def test_orc_reader_roundtrip_and_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.sources.readers import read_orc

    nation = spark.read.parquet(f"{SF_TEST_DIR}/nation.parquet")
    orc_p = str(tmp_path / "n_orc")
    nation.write.orc(orc_p)
    back = read_orc(spark, orc_p)
    want = nation.toPandas().sort_values("n_nationkey")
    got = back.toPandas().sort_values("n_nationkey")
    assert list(got.n_name) == list(want.n_name)
    # filter must push into the vectorized ORC scan, like Parquet
    plan = (
        back.filter(F.col("n_nationkey") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_nationkey" in plan.split("PushedFilters")[1][:80]


def test_schema_evolution_merge_read(spark, tmp_path):
    """ALTER TABLE ADD COLUMN at the Parquet layer (ref:649-650):
    append a superset-schema batch, read with mergeSchema — unified
    schema, NULL backfill for pre-evolution rows."""
    from chinook_music_database_analysis_spark.sources.sinks import (
        append_evolved,
        read_evolved,
        write_result,
    )

    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    write_result(v1, path)
    v2 = spark.createDataFrame([(3, "c", 9.5)], "id long, s string, score double")
    append_evolved(v2, path)
    back = read_evolved(spark, path)
    assert set(back.columns) == {"id", "s", "score"}
    rows = {r.id: r for r in back.collect()}
    assert rows[3].score == 9.5
    assert rows[1].score is None and rows[2].score is None


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Both sides bucketed on the join key -> SortMergeJoin with ZERO
    Exchange: the co-located layout replaces the runtime shuffle (the
    100 TB recurring-join policy encoded by write_bucketed)."""
    from chinook_music_database_analysis_spark.sources.sinks import write_bucketed

    orders = spark.read.parquet(f"{SF_TEST_DIR}/orders.parquet").limit(500)
    li = spark.read.parquet(f"{SF_TEST_DIR}/lineitem.parquet").limit(2000)
    write_bucketed(orders.select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey", 8)
    write_bucketed(li.select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey", 8)
    try:
        joined = (
            spark.table("b_lineitem")
            .join(spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        # Force the bucketed SMJ path (no broadcast, no AQE replan).
        with_conf = [("spark.sql.autoBroadcastJoinThreshold", "-1")]
        old = {k: spark.conf.get(k) for k, _ in with_conf}
        for k, v in with_conf:
            spark.conf.set(k, v)
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() > 0
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_dynamic_partition_pruning_on_date_partitioned_fact(spark, tmp_path):
    """A date-partitioned fact joined to a FILTERED dimension must plan
    dynamic partition pruning: the fact scan's partition filter is fed
    at runtime from the dim side, so only matching date directories are
    read — the layout policy write_fact_by_date encodes, paying off on
    joins (static pruning is the already-tested direct-filter case)."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.sources.sinks import write_fact_by_date

    orders = spark.read.parquet(f"{SF_TEST_DIR}/orders.parquet")
    path = str(tmp_path / "fact_by_date")
    write_fact_by_date(orders.limit(3000), path, "o_orderdate")
    fact = spark.read.parquet(path)
    # Small date dimension, filtered to a handful of days.
    dim = (
        fact.select(F.col("_date").alias("d")).distinct().limit(50)
        .filter(F.dayofmonth("d") == 1)
    )
    joined = fact.join(dim, fact["_date"] == dim["d"]).groupBy("d").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # the runtime-pruned scan is the fact's partition column
    assert "_date" in plan.split("dynamicpruning")[0][-300:]
    joined.collect()  # sanity: executes


def test_python_datasource_synthetic_events(spark):
    """Custom Python Data Source (Spark 4 connector API): partitioned
    deterministic generation — correct row count, declared parallelism,
    bit-identical re-reads, and engine operators compose on top."""
    from chinook_music_database_analysis_spark.sources.synthetic import register

    register(spark)
    df = (
        spark.read.format("synthevents")
        .option("n_rows", 5000)
        .option("n_partitions", 8)
        .option("n_users", 50)
        .load()
    )
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 8
    assert df.select("event_id").distinct().count() == 5000
    # deterministic: a second read is identical
    df2 = (
        spark.read.format("synthevents")
        .option("n_rows", 5000)
        .option("n_partitions", 8)
        .option("n_users", 50)
        .load()
    )
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, df2.collect()))
    assert a == b
    # composes with engine aggregation shapes
    agg = df.groupBy("event_type").count().collect()
    assert sum(r["count"] for r in agg) == 5000
    assert {r.event_type for r in agg} <= {"click", "error", "purchase", "signup", "view"}


def test_engine_profile_metrics(spark):
    eng = Engine(sf_dir=SF_TEST_DIR, spark=spark)
    prof = eng.profile("q04_rev_by_geo")
    assert prof["n_rows"] == 25
    assert prof["wall_sec"] > 0
    assert "HashAggregate" in prof["plan"] or "Aggregate" in prof["plan"]
    # The plan is the one the timed write executed (adaptive-final),
    # not a re-plan of the DataFrame that never ran.
    prof = eng.profile("q02_top_parts_nation0")
    assert "isFinalPlan=true" in prof["plan"]
    assert prof["plan_stats"]["bhj"] >= 1 and prof["plan_stats"]["aggs"] >= 1
    assert min(prof["build_sec"], prof["plan_sec"], prof["wall_sec"]) >= 0
    assert prof["n_rows"] > 0


def test_cli_profile_and_explain(spark, capsys):
    import json

    from chinook_music_database_analysis_spark.__main__ import main

    argv = ["profile", "q04_rev_by_geo", "q02_top_parts_nation0", "--sf-dir", SF_TEST_DIR]
    assert main(argv) == 0
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 2
    for line, name in zip(lines, ("q04_rev_by_geo", "q02_top_parts_nation0")):
        res = json.loads(line)
        assert res["query"] == name
        assert {"build_sec", "plan_sec", "wall_sec", "compiles", "plan_stats"} <= set(res)
    assert main(["explain", "q02_top_parts_nation0", "--sf-dir", SF_TEST_DIR]) == 0
    assert "Scan parquet" in capsys.readouterr().out


def test_shuffle_partitions_follow_core_count(spark):
    """get_spark derives spark.sql.shuffle.partitions from the same
    core count as local[N], so a session never shuffles into more
    partitions than it has task slots."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert parts == spark.sparkContext.defaultParallelism


def test_codegen_cache_holds_the_working_set(spark):
    """get_spark sizes the compiled-class cache from the one engine
    constant (a static conf: only the builder can set it)."""
    from chinook_music_database_analysis_spark.sources.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_warm_rerun_compiles_nothing(spark):
    """A second run of the same queries in one session finds every
    generated class in the cache: no class is compiled again, whatever
    order AQE materialized the stages in."""
    from chinook_music_database_analysis_spark.engine import profile_query

    names = (
        "q02_top_parts_nation0",
        "q04c_rollup_geo",
        "q06_top_part_per_cust",
        "s02_intl_types",
        "s04_affinity_brands",
    )
    for name in names:
        profile_query(spark, SF_TEST_DIR, name)
    again = {name: profile_query(spark, SF_TEST_DIR, name)["compiles"] for name in names}
    assert again == dict.fromkeys(names, 0)


def test_footer_schema_equals_inferring_read(spark, tmp_path):
    """table_schema reads a table's schema from one footer on the
    driver; it must equal what Spark's inferring read (a schema job)
    gives, nullability and field metadata included, for every table of
    every shipped corpus and of a Spark-written Chinook mount.  On a
    partitioned directory the footer lacks the partition column, so
    there the read relation's schema must equal the inferring read's."""
    from chinook_music_database_analysis_spark.sources import load_tables
    from chinook_music_database_analysis_spark.sources.chinook_adapter import mount_chinook
    from chinook_music_database_analysis_spark.sources.session import TABLES, table_schema
    from test_chinook_native import micro_chinook

    root = os.path.dirname(SF_TEST_DIR)
    here = os.path.dirname(os.path.abspath(__file__))
    dirs = [f"{root}/sf{sf}" for sf in ("0.001", "0.01", "0.1")]
    dirs.append(os.path.join(here, "..", "perfbench", "data", "sf0.01"))
    dirs.append(mount_chinook(spark, micro_chinook(spark), str(tmp_path / "chinook")))
    checked = 0
    for sf_dir in dirs:
        for name in TABLES:
            path = f"{sf_dir}/{name}.parquet"
            if os.path.exists(path):
                want = spark.read.parquet(path).schema.json()
                assert table_schema(spark, sf_dir, name).json() == want, path
                checked += 1
    assert checked >= 10 * 4 + 7

    part = str(tmp_path / "part")
    lineitem = spark.read.parquet(f"{SF_TEST_DIR}/lineitem.parquet").limit(200)
    lineitem.write.partitionBy("l_returnflag").parquet(f"{part}/lineitem.parquet")
    want = spark.read.parquet(f"{part}/lineitem.parquet").schema
    assert "l_returnflag" not in table_schema(spark, part, "lineitem").fieldNames()
    assert load_tables(spark, part)["lineitem"].schema.json() == want.json()


def test_sorted_write_layout_enables_rowgroup_skipping(spark, tmp_path):
    """write_sorted_by must produce files with DISJOINT value ranges
    and narrow row-group min/max spans (verified from Parquet footers
    via pyarrow — engine-independent), so pushed range predicates can
    skip row groups at footer level."""
    import glob

    import pyarrow.parquet as pq

    from chinook_music_database_analysis_spark.sources.sinks import write_sorted_by

    orders = spark.read.parquet(f"{SF_TEST_DIR}/orders.parquet")
    path = str(tmp_path / "sorted")
    write_sorted_by(orders, path, "o_custkey", n_files=8)
    spans = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.read_metadata(f)
        idx = md.schema.names.index("o_custkey")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append((st.min, st.max))
    # files/row-groups cover disjoint, ordered ranges
    spans.sort()
    for (a_min, a_max), (b_min, b_max) in zip(spans, spans[1:]):
        assert a_max <= b_min, (a_min, a_max, b_min, b_max)
    # and the total span is partitioned, not replicated per group
    lo = min(s[0] for s in spans)
    hi = max(s[1] for s in spans)
    assert len(spans) >= 4 and hi > lo
    # a point-lookup filter still pushes to the scan
    from pyspark.sql import functions as F

    plan = (
        spark.read.parquet(path)
        .filter(F.col("o_custkey") == 42)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "o_custkey" in plan.split("PushedFilters")[1][:120]


def test_read_json_quarantine_splits_good_and_bad(spark, tmp_path):
    """PERMISSIVE ingest with quarantine: clean lines parse to the
    pinned schema, broken lines come back raw for a quarantine sink,
    and nothing is silently dropped (good + bad == input lines)."""
    from chinook_music_database_analysis_spark.sources.readers import (
        read_json_quarantine,
    )

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "v": 1.5}\n'
        "this is not json\n"
        '{"id": 2, "v": null}\n'
        '{"id": "not-a-number-but-null-coerces", "v": 3.0}\n'
    )
    good, bad, raw = read_json_quarantine(spark, str(p), "id long, v double")
    g = {(r.id, r.v) for r in good.collect()}
    b = [r.raw for r in bad.collect()]
    assert (1, 1.5) in g and (2, None) in g
    assert any("not json" in r for r in b)
    assert good.count() + bad.count() == 4
    # the returned cache root is the releasable handle (r12): it IS
    # cached, and unpersisting it frees the only storage this load took
    assert raw.storageLevel.useMemory
    raw.unpersist(blocking=True)
    assert not raw.storageLevel.useMemory


def test_engine_validate_matches_oracle(spark):
    """Engine.validate is the correctness harness as an API: a known-
    good query validates clean, and the result shape is stable."""
    from chinook_music_database_analysis_spark.engine import Engine

    e = Engine(sf_dir=SF_TEST_DIR, spark=spark)
    r = e.validate("q04_rev_by_geo")
    assert r["rows_match"] and r["schema_match"] and r["values_match"]
    assert r["spark_rows"] == r["oracle_rows"] > 0


def test_engine_validate_on_mounted_chinook_dir(spark, tmp_path, monkeypatch):
    """A mounted Chinook table set is a parquet directory like any
    other, so the DuckDB oracle reads it too: validate checks a query
    on the Chinook micro tables against its oracle (q04's oracle does
    not embed NATION0, so the generated data's NATION0 is no obstacle)."""
    from chinook_music_database_analysis_spark import store
    from chinook_music_database_analysis_spark.sources import register_views
    from chinook_music_database_analysis_spark.sources.chinook_adapter import (
        mount_chinook,
    )
    from test_chinook_native import micro_chinook

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    try:
        sf_dir = mount_chinook(spark, micro_chinook(spark), str(tmp_path / "chinook"))
        r = Engine(sf_dir=sf_dir, spark=spark).validate("q04_rev_by_geo")
        assert r["rows_match"] and r["schema_match"] and r["values_match"]
        assert r["spark_rows"] == r["oracle_rows"] > 0
    finally:
        # restore the session-wide temp views the mounted Engine replaced
        register_views(spark, SF_TEST_DIR)


def test_sql_udf_through_engine(spark):
    """SQL-defined scalar functions (CREATE FUNCTION ... RETURN expr,
    Spark 4) run through Engine.sql and match the equivalent built-in
    expression — the catalog-level extensibility path that needs no
    Python worker at execution time (the body inlines into codegen,
    unlike a Python UDF)."""
    eng = Engine(sf_dir=SF_TEST_DIR, spark=spark)
    eng.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION money_pct(part DECIMAL(18,4), whole DECIMAL(18,4)) "
        "RETURNS DOUBLE RETURN CASE WHEN whole = 0 THEN NULL "
        "ELSE CAST(ROUND(part / whole * 100, 2) AS DOUBLE) END"
    )
    via_udf = eng.sql(
        "SELECT o_orderpriority, "
        "money_pct(SUM(CAST(o_totalprice AS DECIMAL(18,4))), "
        "          (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders)) AS pct "
        "FROM orders GROUP BY o_orderpriority"
    ).collect()
    via_builtin = eng.sql(
        "SELECT o_orderpriority, "
        "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) / "
        "  (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders) * 100, 2) AS DOUBLE) AS pct "
        "FROM orders GROUP BY o_orderpriority"
    ).collect()
    assert sorted(map(tuple, via_udf)) == sorted(map(tuple, via_builtin))
    # and the UDF body inlines — no Python evaluation node in the plan
    plan = (
        eng.sql("SELECT money_pct(CAST(1 AS DECIMAL(18,4)), CAST(4 AS DECIMAL(18,4))) AS p")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_write_with_metrics_single_pass(spark, tmp_path):
    """Observation metrics collected during the write must equal the
    recomputed ground truth — validation without a second scan."""
    from chinook_music_database_analysis_spark.operators.quality import (
        write_with_metrics,
    )

    cust = spark.read.parquet(f"{SF_TEST_DIR}/customer.parquet")
    path = str(tmp_path / "obs")
    got = write_with_metrics(cust, path, null_cols=("c_name", "c_mktsegment"))
    assert got["n_rows"] == cust.count()
    for c in ("c_name", "c_mktsegment"):
        assert got[f"nulls_{c}"] == cust.filter(F.col(c).isNull()).count()
    # and the written table round-trips
    assert spark.read.parquet(path).count() == got["n_rows"]


def test_validate_all_sweep(spark):
    """The health sweep runs a subset end-to-end and reports a clean
    summary shape (full-registry sweeps are the oracle-parity test's
    job; this pins the API contract incl. error isolation)."""
    eng = Engine(sf_dir=SF_TEST_DIR, spark=spark)
    res = eng.validate_all(["q04_rev_by_geo", "q07_purchase_trends", "tx_stats"])
    assert res == {"n": 3, "passed": 3, "failed": [], "errors": {}}


def test_runtime_bloom_filter_semi_join_reduction(spark):
    """Runtime bloom-filter injection (SPARK-32268): joining a big fact
    to a selectively-FILTERED dimension over a shuffle join must plant a
    bloom filter built from the dim's join keys onto the fact scan side,
    so non-matching fact rows die before the shuffle — the row-level
    companion of dynamic partition pruning, and the 100 TB lever that
    turns a 10x-selective dim filter into a ~10x fact shuffle cut.
    The filter is a pure prefilter (false positives only), so results
    are the exact join's — correctness never depends on it."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # local test tables are tiny — drop the size gates so the rule
        # fires at sf0.001 like it would on a 100 TB fact naturally
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # broadcast would bypass the shuffle (and the bloom's point)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    # Snapshot only EXPLICITLY-set values (RuntimeConfig.contains) —
    # conf.get(k, None) can surface a server-side default, which the
    # restore would then pin into the shared session fixture.
    jconf = spark._jsparkSession.conf()
    saved = {k: (spark.conf.get(k) if jconf.contains(k) else None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from pyspark.sql import functions as F

        orders = spark.read.parquet(f"{SF_TEST_DIR}/orders.parquet")
        cust = spark.read.parquet(f"{SF_TEST_DIR}/customer.parquet").filter(
            F.col("c_acctbal") > 9000  # selective dim filter -> worth a bloom
        )
        joined = (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # exact result unaffected by the prefilter: compare against the
        # same join with the rule disabled
        with_bloom = {(r["c_nationkey"], r["n"]) for r in joined.collect()}
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        without = {
            (r["c_nationkey"], r["n"])
            for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert with_bloom == without
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_register_views_with_partial_override(spark, tmp_path):
    """A table directory may be partial (a mounted Chinook directory
    holds 7 of the 10 corpus tables): register_views must register
    what exists instead of failing on the absent tables, and the
    session confs (UTC timezone) must apply there too."""
    from chinook_music_database_analysis_spark.sources.session import register_views

    partial = write_table_dir(
        tmp_path / "partial",
        {
            "region": spark.createDataFrame(
                [(0, "AMERICA", "")],
                "r_regionkey long, r_name string, r_comment string",
            ),
            "nation": spark.createDataFrame(
                [(0, "US", 0, "")],
                "n_nationkey long, n_name string, n_regionkey long, n_comment string",
            ),
        },
    )
    try:
        register_views(spark, partial)
        assert spark.table("region").count() == 1
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.catalog.dropTempView("region")
        spark.catalog.dropTempView("nation")

def test_read_jdbc_requires_bounds_with_partition_column(spark):
    """Forgotten lowerBound/upperBound must fail fast with a clear
    ValueError, not reach the JDBC relation as the literal string
    'None' and die in Java number parsing (r10 review)."""
    import pytest

    from chinook_music_database_analysis_spark.sources.readers import read_jdbc

    with pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(
            spark, "jdbc:h2:mem:x", "t", partition_column="id", num_partitions=4
        )


def test_plan_memo_reuses_and_detects_rewrite(spark, tmp_path):
    """r13 plan memo: QUERIES[...] must serve the SAME lazy plan for an
    unchanged (session, corpus), and a rewritten table file — any table
    — must be a signature miss that rebuilds."""
    import shutil

    from chinook_music_database_analysis_spark.plans import QUERIES
    from chinook_music_database_analysis_spark.sources import TABLES

    d = tmp_path / "plan_memo_sf"
    d.mkdir()
    for t in TABLES:
        shutil.copy(f"{SF_TEST_DIR}/{t}.parquet", d / f"{t}.parquet")
    sf = str(d)
    df1 = QUERIES["q01_dupes"](spark, sf)
    df2 = QUERIES["q01_dupes"](spark, sf)
    assert df1 is df2, "unchanged corpus must hit the plan memo"

    import pyarrow.parquet as pq

    one = pq.read_table(f"{SF_TEST_DIR}/region.parquet").slice(0, 1)
    pq.write_table(one, d / "region.parquet")
    df3 = QUERIES["q01_dupes"](spark, sf)
    assert df3 is not df1, "corpus rewrite must be a plan-memo miss"

    invalidate(sf)
    assert QUERIES["q01_dupes"](spark, sf) is not df3


def test_dd_ngram_no_persist_growth_across_executions(spark):
    """r13 (r12 advice/verdict item 7): the candidate-restricted shingle
    relation used by the jaccard/containment verify stages must NOT pin
    a fresh persisted relation per build — executor storage must stay
    flat across repeated executions, and invalidate must release it."""
    from chinook_music_database_analysis_spark.plans import QUERIES

    def n_persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    QUERIES["dd_ngram_jaccard"](spark, SF_TEST_DIR).count()
    n1 = n_persisted()
    for _ in range(3):
        QUERIES["dd_ngram_jaccard"](spark, SF_TEST_DIR).count()
    assert n_persisted() == n1, "repeated builds must not grow executor storage"
    invalidate(SF_TEST_DIR)
    assert n_persisted() < n1 or n1 == 0, "invalidate must release the memoized relations"


def test_reader_memo_reuses_and_detects_rewrite(spark, tmp_path):
    """r12 reader memo: load_tables must serve the SAME lazy relation
    for an unchanged table path (the per-build footer re-read was pure
    fixed cost), and a REWRITTEN path — same name, new bytes — must be
    a signature miss that reloads, serving the new rows (the stale-
    cache failure mode the stat signature exists to prevent)."""
    import shutil

    from chinook_music_database_analysis_spark.sources import load_tables

    d = tmp_path / "memo_sf"
    d.mkdir()
    for t in ("region", "nation"):
        shutil.copy(f"{SF_TEST_DIR}/{t}.parquet", d / f"{t}.parquet")
    sf = str(d)
    df1 = load_tables(spark, sf)["region"]
    df2 = load_tables(spark, sf)["region"]
    assert df1 is df2, "unchanged path must hit the reader memo"
    n_before = df1.count()

    # rewrite the file with a 1-row slice (new size => new signature)
    one = spark.read.parquet(f"{SF_TEST_DIR}/region.parquet").limit(1).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(one), d / "region.parquet")
    df3 = load_tables(spark, sf)["region"]
    assert df3 is not df1, "rewritten path must be a signature miss"
    assert df3.count() == 1 and n_before > 1

    # the session cache stays LRU-bounded
    assert len(cache._ENTRIES) <= cache._MAX_ENTRIES


def test_registered_callables_carry_query_name():
    from chinook_music_database_analysis_spark.plans import QUERIES

    for name, fn in QUERIES.items():
        assert fn.query_name == name


def _copy_corpus(dst) -> str:
    import shutil

    from chinook_music_database_analysis_spark.sources import TABLES

    dst.mkdir()
    for t in TABLES:
        shutil.copy(f"{SF_TEST_DIR}/{t}.parquet", dst / f"{t}.parquet")
    return str(dst)


def test_corpus_rewrite_mid_session_matches_fresh_build(spark, tmp_path, monkeypatch):
    """Rewriting the corpus in place mid-session must rebuild every cached
    part of a plan — corpus statistics, store relations and reads — so
    the rebuilt tx_bm25_topk returns what a fresh build over the new
    corpus returns."""
    import shutil

    import pyarrow.parquet as pq

    from chinook_music_database_analysis_spark import store
    from chinook_music_database_analysis_spark.plans import QUERIES

    monkeypatch.setattr(store, "ROOT", str(tmp_path / "idx"))
    sf = _copy_corpus(tmp_path / "live")
    QUERIES["tx_bm25_topk"](spark, sf).collect()

    for t in ("documents", "embeddings"):
        tab = pq.read_table(f"{sf}/{t}.parquet")
        pq.write_table(tab.slice(0, tab.num_rows * 2 // 3), f"{sf}/{t}.parquet")
    got = sorted(map(tuple, QUERIES["tx_bm25_topk"](spark, sf).collect()))

    fresh = str(tmp_path / "fresh")
    shutil.copytree(sf, fresh)
    want = sorted(map(tuple, QUERIES["tx_bm25_topk"](spark, fresh).collect()))
    assert got == want
    invalidate(sf)
    invalidate(fresh)


def test_index_wipe_mid_session_retrains(spark, tmp_path, monkeypatch):
    """Deleting the index store under a session must retrain it on the next
    execution instead of scanning the deleted store files."""
    import shutil

    from chinook_music_database_analysis_spark import store
    from chinook_music_database_analysis_spark.plans import QUERIES

    root = tmp_path / "idx"
    monkeypatch.setattr(store, "ROOT", str(root))
    sf = _copy_corpus(tmp_path / "sf")
    n = QUERIES["tx_bm25_topk"](spark, sf).count()
    shutil.rmtree(root)
    assert QUERIES["tx_bm25_topk"](spark, sf).count() == n
    assert root.is_dir(), "the store was not trained again"
    invalidate(sf)


def test_invalidate_drops_plans_and_releases_storage(spark):
    from chinook_music_database_analysis_spark.plans import QUERIES

    def n_persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    df = QUERIES["dd_ngram_jaccard"](spark, SF_TEST_DIR)
    df.count()
    n1 = n_persisted()
    invalidate(SF_TEST_DIR)
    assert n_persisted() < n1
    assert QUERIES["dd_ngram_jaccard"](spark, SF_TEST_DIR) is not df


def test_new_session_gets_no_cached_plans_or_relations(spark):
    from chinook_music_database_analysis_spark.plans import QUERIES
    from chinook_music_database_analysis_spark.plans.extensions import _cand_pairs

    other = spark.newSession()
    q = QUERIES["dd_ngram_jaccard"]
    assert q(spark, SF_TEST_DIR) is q(spark, SF_TEST_DIR)
    assert q(other, SF_TEST_DIR) is not q(spark, SF_TEST_DIR)
    assert _cand_pairs(other, SF_TEST_DIR) is not _cand_pairs(spark, SF_TEST_DIR)
    assert q(other, SF_TEST_DIR).sparkSession is other
    invalidate(SF_TEST_DIR)
