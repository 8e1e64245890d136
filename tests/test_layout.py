"""Z-order layout: Morton-code correctness (vs an independent Python
implementation) and the footer-level proof that two-dimensional
clustering bounds BOTH key ranges per file — which single-key sorting
cannot do for the second key."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from chinook_music_database_analysis_spark.cache import invalidate
from chinook_music_database_analysis_spark.operators.layout import (
    morton_code,
    morton_sql,
    write_zordered,
    write_zordered_partitioned,
)
from chinook_music_database_analysis_spark.sources.sinks import write_sorted_by

from conftest import SF_TEST_DIR


def _py_morton(x: int, y: int) -> int:
    """Independent reference: interleave bit-by-bit."""
    out = 0
    for i in range(16):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def test_morton_code_matches_reference(spark):
    cases = [(0, 0), (1, 0), (0, 1), (3, 5), (1000, 42), (65535, 65535), (70000, 2)]
    df = spark.createDataFrame(cases, ["x", "y"]).withColumn(
        "z", morton_code(F.col("x"), F.col("y"))
    )
    for r in df.collect():
        assert r["z"] == _py_morton(r["x"] & 0xFFFF, r["y"] & 0xFFFF), r


def test_morton_sql_matches_spark(spark, ddb):
    """The generated DuckDB expression computes the identical code —
    the cross-dialect contract the s13 oracle rests on."""
    cases = [(3, 5), (1000, 42), (65535, 1), (12345, 54321)]
    expr = morton_sql("x", "y")
    vals = ", ".join(f"({x},{y})" for x, y in cases)
    duck = {
        (x, y): z
        for x, y, z in ddb.sql(
            f"SELECT x, y, {expr} AS z FROM (VALUES {vals}) t(x,y)"
        ).fetchall()
    }
    sdf = spark.createDataFrame(cases, ["x", "y"]).withColumn(
        "z", morton_code(F.col("x"), F.col("y"))
    )
    for r in sdf.collect():
        assert duck[(r["x"], r["y"])] == r["z"]


def _file_spans(path: str, col: str) -> list[tuple[int, int]]:
    spans = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.read_metadata(f)
        idx = md.schema.names.index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            spans.append((min(mins), max(maxs)))
    return spans


def test_zorder_bounds_both_dimensions(spark, tmp_path):
    """A 2-D box probe on the SECOND key must be able to skip files
    under the z-ordered layout; under a layout sorted on the first key
    alone, every file spans the full second-key range and nothing
    skips.  Measured from Parquet footers (engine-independent)."""
    li = spark.read.parquet(f"{SF_TEST_DIR}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath, spath = str(tmp_path / "zorder"), str(tmp_path / "sorted1d")
    write_zordered(li, zpath, "l_partkey", "l_suppkey", n_files=8)
    write_sorted_by(li, spath, "l_partkey", n_files=8)

    lo, hi = [
        r[0]
        for r in li.agg(F.min("l_suppkey")).collect()
        + li.agg(F.max("l_suppkey")).collect()
    ]
    assert hi > lo, "fixture needs a non-degenerate l_suppkey range"
    # probe: the lowest quartile of the supplier range
    box_hi = lo + max(1, (hi - lo) // 4)

    def hit_fraction(path: str) -> float:
        spans = _file_spans(path, "l_suppkey")
        assert spans, path
        hits = sum(1 for mn, mx in spans if mn <= box_hi and mx >= lo)
        return hits / len(spans)

    z_frac = hit_fraction(zpath)
    s_frac = hit_fraction(spath)
    # the 1-D layout cannot skip on l_suppkey at all...
    assert s_frac == 1.0
    # ...while z-order leaves some files entirely outside the box
    assert z_frac < 1.0, f"z-order produced no supplier-key locality ({z_frac})"

    # and rows are preserved bit-for-bit
    a = sorted(map(tuple, spark.read.parquet(zpath).collect()))
    b = sorted(map(tuple, li.collect()))
    assert a == b


def test_zorder_query_results_unchanged(spark, tmp_path):
    """Layout is a physical property: an aggregate over the z-ordered
    table equals the same aggregate over the original."""
    li = spark.read.parquet(f"{SF_TEST_DIR}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    path = str(tmp_path / "z2")
    write_zordered(li, path, "l_partkey", "l_suppkey", n_files=4)
    orig = li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("q")).collect()
    new = (
        spark.read.parquet(path)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .collect()
    )
    assert sorted(map(tuple, orig)) == sorted(map(tuple, new))


def test_partitioned_zorder_layout(spark, tmp_path):
    """Hive partitioning + per-directory z-order in one shuffle: every
    partition directory's files must cover narrow z segments (second
    key skippable inside the directory) and the partition column must
    prune directories at plan level."""
    orders = (
        spark.read.parquet(f"{SF_TEST_DIR}/orders.parquet")
        .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .withColumn("o_price_i", F.col("o_totalprice").cast("bigint"))
        .select("o_orderkey", "o_custkey", "o_price_i", "o_month")
    )
    path = str(tmp_path / "pz")
    write_zordered_partitioned(orders, path, "o_month", "o_custkey", "o_price_i")

    import glob
    import os

    part_dirs = sorted(glob.glob(os.path.join(path, "o_month=*")))
    assert len(part_dirs) >= 3
    # inside at least one multi-file directory the custkey spans must
    # not all cover the full range (z-clustering bit) — directories
    # with a single file trivially satisfy locality
    multi = [d for d in part_dirs if len(glob.glob(f"{d}/*.parquet")) > 1]
    checked = False
    lo_all = orders.agg(F.min("o_custkey")).collect()[0][0]
    hi_all = orders.agg(F.max("o_custkey")).collect()[0][0]
    for d in multi:
        spans = _file_spans(d, "o_custkey")
        if len(spans) > 1 and any(mn > lo_all or mx < hi_all for mn, mx in spans):
            checked = True
            break
    assert checked or not multi, "no per-directory key locality found"

    # partition pruning reaches the plan
    plan = (
        spark.read.parquet(path)
        .filter(F.col("o_month") == orders.select("o_month").first()[0])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "o_month" in plan.split("PartitionFilters")[1][:120]

    # rows survive byte-for-byte (modulo partition column round-trip)
    a = sorted(map(tuple, spark.read.parquet(path).select("o_orderkey", "o_custkey", "o_price_i").collect()))
    b = sorted(map(tuple, orders.select("o_orderkey", "o_custkey", "o_price_i").collect()))
    assert a == b


def test_quantile_rank_zorder_survives_skew(spark, tmp_path):
    """Under heavy key skew, affine min/max lanes collapse (most rows
    in a sliver of the lane -> the curve degenerates to 1-D on the
    other key and a low-range probe on the skewed key skips nothing),
    while quantile-rank lanes keep per-file locality on BOTH keys."""
    from chinook_music_database_analysis_spark.operators.layout import (
        write_zordered_ranked,
    )

    df = spark.range(20_000).selectExpr(
        "CAST(pow(2, id % 21) AS BIGINT) AS x",  # 6 orders of magnitude
        "id % 1000 AS y",
        "id AS payload",
    )
    apath, qpath = str(tmp_path / "affine"), str(tmp_path / "ranked")
    write_zordered(df, apath, "x", "y", n_files=8)
    write_zordered_ranked(df, qpath, "x", "y", n_files=8)

    # probe: the lower half of x's VALUE-RANK range (x <= 1000, i.e.
    # powers up to 2^9): ~half the rows, but an affine sliver near 0
    # of the value range.
    def hit_fraction(path: str) -> float:
        spans = _file_spans(path, "x")
        hits = sum(1 for mn, mx in spans if mn <= 1000)
        return hits / len(spans)

    a_frac, q_frac = hit_fraction(apath), hit_fraction(qpath)
    # rank lanes must beat affine lanes on the skewed key
    assert q_frac < a_frac, (q_frac, a_frac)
    # and rows survive
    assert spark.read.parquet(qpath).count() == 20_000


def test_layout_rebuild_prunes(spark, tmp_path, monkeypatch):
    """End-to-end proof on the registered maintenance pipeline
    (pipe_layout_rebuild): the rebuilt store is Hive-partitioned by
    ship year (directory pruning reaches the plan as PartitionFilters),
    the 2-D box reaches the scan as PushedFilters, and inside the
    probed partition directory the z-order leaves whole files outside
    the box (footer-level skipping)."""
    import os

    from chinook_music_database_analysis_spark import store as index_store
    from chinook_music_database_analysis_spark.plans.scale_queries import (
        ZP_PART_HI,
        ZP_PART_LO,
        ZP_YEAR,
        _zordered_lineitem,
    )
    from chinook_music_database_analysis_spark.plans import QUERIES

    monkeypatch.setattr(index_store, "ROOT", str(tmp_path))
    invalidate(SF_TEST_DIR)
    try:
        fact = _zordered_lineitem(spark, SF_TEST_DIR)

        # store layout: one directory per ship year
        store = glob.glob(str(tmp_path / "*" / "lineitem_zorder" / "data"))[0]
        part_dirs = sorted(glob.glob(os.path.join(store, "l_ship_year=*")))
        assert len(part_dirs) >= 3, part_dirs

        # the registered query's plan prunes directories and pushes the box
        plan = (
            QUERIES["pipe_layout_rebuild"](spark, SF_TEST_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan
        assert "l_ship_year" in plan.split("PartitionFilters")[1][:200]
        pushed = plan.split("PushedFilters")[1][:300]
        assert "l_partkey" in pushed and "l_suppkey" in pushed

        # footer-level skipping inside the probed partition directory:
        # at least one file's l_partkey span lies entirely outside the
        # box, so the pushed range skips it without reading a row.
        ydir = os.path.join(store, f"l_ship_year={ZP_YEAR}")
        spans = _file_spans(ydir, "l_partkey")
        assert spans, ydir
        if len(spans) > 1:
            assert any(mx < ZP_PART_LO or mn > ZP_PART_HI for mn, mx in spans), spans

        # and the rebuild changed no answers (content-identity)
        li = spark.read.parquet(f"{SF_TEST_DIR}/lineitem.parquet")
        assert fact.count() == li.count()
    finally:
        invalidate(SF_TEST_DIR)


def test_zorder_writers_handle_empty_input(spark, tmp_path):
    """An upstream filter matching zero rows must yield an empty table,
    not an int(None) TypeError from the bounds aggregate (r10 review);
    same for the partitioned, quantile-ranked and single-key writers."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.layout import (
        write_zordered,
        write_zordered_partitioned,
        write_zordered_ranked,
    )

    empty = spark.range(0).selectExpr(
        "id AS x", "id AS y", "CAST(id % 3 AS INT) AS p"
    )
    p1 = str(tmp_path / "z_empty")
    write_zordered(empty, p1, "x", "y")
    # an empty write emits no data files, so read back schema-pinned
    assert spark.read.schema(empty.schema).parquet(p1).count() == 0
    p2 = str(tmp_path / "zp_empty")
    write_zordered_partitioned(empty, p2, "p", "x", "y")
    assert spark.read.schema(empty.schema).parquet(p2).count() == 0
    p3 = str(tmp_path / "zr_empty")
    write_zordered_ranked(empty, p3, "x", "y")
    assert spark.read.schema(empty.schema).parquet(p3).count() == 0
    p4 = str(tmp_path / "s_empty")
    write_sorted_by(empty, p4, "x")
    assert spark.read.schema(empty.schema).parquet(p4).count() == 0


def test_quantile_rank_tolerates_nan_column(spark):
    """A double key containing NaN used to render a bare `nan` token
    into the bucket SQL (unresolved column -> AnalysisException); NaN
    cuts are now dropped, NaN rows land in the top bucket."""
    from chinook_music_database_analysis_spark.operators.layout import (
        quantile_rank16,
    )

    df = spark.range(100).selectExpr(
        "CASE WHEN id % 4 = 0 THEN double('NaN')"
        " ELSE CAST(id AS DOUBLE) END AS v"
    )
    out = df.select(quantile_rank16(df, "v").alias("r")).collect()
    assert len(out) == 100 and all(r.r is not None for r in out)
