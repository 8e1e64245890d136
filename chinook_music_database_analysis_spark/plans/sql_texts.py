"""Spark-SQL text forms of the core parity queries (the dual surface).

Layer 3 of the architecture (SURVEY §7.0): every query is a DataFrame
builder (plans/parity.py) AND runnable as Spark SQL text against the
registered catalog (``Engine.sql``).  These texts are Spark dialect —
distinct from the DuckDB-dialect oracles — and are asserted equivalent
to the DataFrame builders in tests/test_sql_texts.py.

The full registry intentionally keeps DataFrame builders as the source
of truth (composability + explicit plan shaping); the texts here cover
each operator family once so the SQL entry path is continuously
exercised: star join + window rank, per-group dense_rank, LAG,
scalar-subquery anchor, COUNT DISTINCT + HAVING, semi-join via IN,
view scan, self-join pairs, Morton bit ops (r3), the portable
md5-HLL sketch (r8), and the portable count-min sketch (late r8).
"""

from __future__ import annotations

from ..operators.layout import _IN_MASK, _SPREAD_STEPS
from .views import NATION0

#: name -> Spark SQL text equivalent to the same-named registry query.
SPARK_SQL: dict[str, str] = {
    "q02_top_parts_nation0": f"""
        WITH s AS (
          SELECT p.p_partkey, p.p_name,
                 SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS qty_d,
                 SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(15,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS rev_d
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          WHERE n.n_name = '{NATION0}'
          GROUP BY p.p_partkey, p.p_name
        ), r AS (
          SELECT p_name,
                 CAST(ROUND(qty_d, 2) AS DOUBLE) AS total_qty,
                 CAST(ROUND(rev_d, 2) AS DOUBLE) AS revenue,
                 RANK() OVER (ORDER BY rev_d DESC, qty_d DESC) AS rnk
          FROM s
        )
        SELECT * FROM r WHERE rnk <= 5
    """,
    "q04_rev_by_geo": """
        SELECT n.n_name,
               COUNT(o.o_orderkey) AS n_orders,
               CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    "q05_top5_cust_per_nation": """
        WITH s AS (
          SELECT n.n_name, c.c_custkey, c.c_name,
                 SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS spend_d
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name, c.c_custkey, c.c_name
        )
        SELECT n_name, c_name,
               CAST(ROUND(spend_d, 2) AS DOUBLE) AS spend, rnk
        FROM (
          SELECT *, DENSE_RANK() OVER (
                   PARTITION BY n_name ORDER BY spend_d DESC) AS rnk
          FROM s
        ) WHERE rnk <= 5
    """,
    "q07_purchase_trends": """
        WITH g AS (
          SELECT o_totalprice,
                 CAST(datediff(to_date(o_orderdate), to_date(prev_date)) AS INT) AS gap_days
          FROM (
            SELECT o_custkey, o_orderdate, o_totalprice,
                   LAG(o_orderdate) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date
            FROM orders
          )
        )
        SELECT ROUND(CAST(SUM(gap_days) AS DOUBLE) / CAST(COUNT(gap_days) AS DOUBLE), 2)
                 AS avg_days_between_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 2) AS avg_order_value
        FROM g
    """,
    "q08_churn_rate": """
        WITH last AS (
          SELECT o_custkey, MAX(o_orderdate) AS last_order FROM orders GROUP BY o_custkey
        )
        SELECT COUNT(*) AS total_customers,
               SUM(CASE WHEN to_date(last_order)
                             < add_months(to_date((SELECT MAX(o_orderdate) FROM orders)), -6)
                        THEN 1 ELSE 0 END) AS churned_customers,
               ROUND(100.0 * CAST(SUM(CASE WHEN to_date(last_order)
                             < add_months(to_date((SELECT MAX(o_orderdate) FROM orders)), -6)
                        THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 2)
                 AS churn_rate_pct
        FROM last
    """,
    "q10_multi_type_cust": """
        SELECT c.c_custkey, c.c_name, cnt.n_types
        FROM (
          SELECT o.o_custkey, COUNT(DISTINCT p.p_type) AS n_types
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY o.o_custkey
          HAVING COUNT(DISTINCT p.p_type) > 2
        ) cnt
        JOIN customer c ON cnt.o_custkey = c.c_custkey
    """,
    "q11_type_rank_nation0": """
        SELECT p_type, rnk FROM nation0_type_sales
    """,
    "s01_brand_promo": f"""
        WITH s AS (
          SELECT p.p_type, p.p_brand,
                 SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(15,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS rev_d
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          WHERE n.n_name = '{NATION0}'
            AND p.p_type IN (SELECT p_type FROM nation0_type_sales WHERE rnk <= 3)
          GROUP BY p.p_type, p.p_brand
        )
        SELECT p_type, p_brand,
               CAST(ROUND(rev_d, 2) AS DOUBLE) AS revenue, rnk
        FROM (
          SELECT *, DENSE_RANK() OVER (
                   PARTITION BY p_type ORDER BY rev_d DESC) AS rnk
          FROM s
        ) WHERE rnk IN (1, 2)
    """,
    "s04_affinity_types": """
        WITH li AS (
          SELECT l.l_orderkey,
                 ROW_NUMBER() OVER (
                   PARTITION BY l.l_orderkey ORDER BY l.l_linenumber, l.l_partkey) AS rid,
                 p.p_type AS v
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        )
        SELECT LEAST(a.v, b.v) AS p_type_1, GREATEST(a.v, b.v) AS p_type_2,
               COUNT(*) AS n_pairs
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey AND a.rid < b.rid
        WHERE a.v <> b.v
        GROUP BY LEAST(a.v, b.v), GREATEST(a.v, b.v)
    """,
}

#: r3: literal NOT IN — Catalyst rewrites this to its native null-aware
#: anti join (single-column NAAJ -> broadcast hash join variant), the
#: planner counterpart of plans/parity.not_in_anti's decorrelation;
#: test_sql_texts pins both to the same rows.
SPARK_SQL["q13b_not_in_null_aware"] = """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE c.c_custkey NOT IN (
      SELECT CASE WHEN o.o_orderpriority IS NOT NULL THEN o.o_custkey END
      FROM orders o WHERE o.o_totalprice > 500000
    )
"""

#: r3: gap-fill via SQL (sequence + explode + last(... ) IGNORE NULLS).
SPARK_SQL["ev_gapfill_hourly"] = """
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx FROM b GROUP BY 1
    ), grid AS (
      SELECT user_id, explode(sequence(mn, mx, interval 1 hour)) AS bucket
      FROM span
    )
    SELECT g.user_id, g.bucket,
           last(b.v, true) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
           b.v IS NULL AS is_gap
    FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
"""

#: r3: anomaly z-scores from integer sufficient statistics — the SQL
#: form of plans/scale_queries.ev_anomaly_hours (bigint s1/s2/c sums
#: keep the derived doubles bit-stable across engines and runs).
SPARK_SQL["ev_anomaly_hours"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             CAST(SUM(n_events) AS BIGINT) AS s1,
             CAST(SUM(n_events * n_events) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, h.hour, h.n_events,
           CASE WHEN (s2 - s1 * s1 / CAST(c AS DOUBLE)) / c > 0
                THEN ROUND((h.n_events - s1 / CAST(c AS DOUBLE))
                           / SQRT((s2 - s1 * s1 / CAST(c AS DOUBLE)) / c), 4)
                ELSE 0.0 END AS z,
           CASE WHEN (s2 - s1 * s1 / CAST(c AS DOUBLE)) / c > 0
                THEN ABS(h.n_events - s1 / CAST(c AS DOUBLE))
                     > 2 * SQRT((s2 - s1 * s1 / CAST(c AS DOUBLE)) / c)
                ELSE FALSE END AS is_spike
    FROM hourly h JOIN stats s USING (event_type)
"""


def _zorder_spread_sql(expr: str) -> str:
    out = f"({expr} & {_IN_MASK})"
    for shift, mask in _SPREAD_STEPS:
        out = f"((({out}) | shiftleft({out}, {shift})) & {mask})"
    return out


#: r3: Morton-bucket locality profile — Spark-SQL bit ops generate the
#: identical code as operators/layout.morton_code (same constants).
SPARK_SQL["s13_zorder_locality"] = f"""
    SELECT shiftright(
             ({_zorder_spread_sql('CAST(l_partkey AS BIGINT)')}
              | shiftleft({_zorder_spread_sql('CAST(l_suppkey AS BIGINT)')}, 1)),
             20) AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM lineitem
    GROUP BY 1
"""


def _hll_spark_sql() -> str:
    """r8: the portable md5-HLL audit as Spark SQL text — the sketch
    family's representative on the dual surface.  Same exact-int64
    register math and shared LinearCounting table as the DataFrame
    builder (operators/sketch.hll_distinct) and the DuckDB oracle."""
    from ..operators.sketch import (
        HLL_ALPHA_NUM,
        HLL_LC_THRESHOLD,
        HLL_M,
        HLL_W_BITS,
        _hll_lc_table,
    )

    lc = ",".join(str(v) for v in _hll_lc_table())
    return f"""
    WITH hashed AS (
      SELECT event_type,
             CAST(conv(substr(md5(concat('hll|', CAST(user_id AS STRING))),
                        1, 15), 16, 10) AS BIGINT) AS h
      FROM events
    ), rw AS (
      SELECT event_type, pmod(h, {HLL_M}) AS j, h DIV {HLL_M} AS w FROM hashed
    ), regs AS (
      SELECT event_type, j,
             MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                      ELSE length(bin(w & -w)) END) AS m_j
      FROM rw GROUP BY event_type, j
    ), s AS (
      SELECT event_type,
             SUM(shiftleft(1L, 53 - m_j))
               + ({HLL_M} - COUNT(*)) * CAST({1 << 53} AS BIGINT) AS s,
             CAST({HLL_M} - COUNT(*) AS INT) AS v
      FROM regs GROUP BY event_type
    ), est AS (
      SELECT event_type,
             CASE WHEN {HLL_ALPHA_NUM!r} / CAST(s AS DOUBLE)
                       <= {HLL_LC_THRESHOLD!r} AND v > 0
                  THEN CAST(element_at(array({lc}), v) AS BIGINT)
                  ELSE CAST(ROUND({HLL_ALPHA_NUM!r} / CAST(s AS DOUBLE))
                            AS BIGINT) END AS hll_est
      FROM s
    ), ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT ex.event_type, n_exact, hll_est,
           CAST(abs(hll_est - n_exact) * 10000 DIV n_exact AS BIGINT) AS err_bp
    FROM ex JOIN est USING (event_type)
    """


SPARK_SQL["ev_hll_users"] = _hll_spark_sql()


def _cms_spark_sql() -> str:
    """late r8: the portable count-min audit as Spark SQL text — the
    frequency-sketch representative on the dual surface, alongside the
    md5-HLL distinct sketch.  Same md5-salted integer counters as the
    DataFrame builder (operators/sketch.cms_registers) and the DuckDB
    oracle."""
    from ..operators.sketch import CMS_D, CMS_W
    from .scale_queries import CMS_TOP_N

    return f"""
    WITH toks AS (
      SELECT explode(split(trim(text), '\\\\s+')) AS tok FROM documents
    ), dd AS (
      SELECT explode(sequence(0, {CMS_D - 1})) AS d
    ), regs AS (
      SELECT d,
             pmod(CAST(conv(substr(md5(concat('cms', CAST(d AS STRING), '|',
                                              tok)), 1, 15), 16, 10)
                       AS BIGINT), {CMS_W}) AS bucket,
             COUNT(*) AS cnt
      FROM toks CROSS JOIN dd GROUP BY 1, 2
    ), ex AS (
      SELECT tok, COUNT(*) AS n_exact FROM toks
      GROUP BY tok ORDER BY n_exact DESC, tok ASC LIMIT {CMS_TOP_N}
    ), pb AS (
      SELECT ex.tok, ex.n_exact, dd.d,
             pmod(CAST(conv(substr(md5(concat('cms', CAST(dd.d AS STRING),
                                              '|', ex.tok)), 1, 15), 16, 10)
                       AS BIGINT), {CMS_W}) AS bucket
      FROM ex CROSS JOIN dd
    )
    SELECT pb.tok, MIN(pb.n_exact) AS n_exact,
           CAST(MIN(COALESCE(regs.cnt, 0)) AS BIGINT) AS cms_est,
           CAST(MIN(COALESCE(regs.cnt, 0)) - MIN(pb.n_exact) AS BIGINT)
             AS overest
    FROM pb LEFT JOIN regs ON pb.d = regs.d AND pb.bucket = regs.bucket
    GROUP BY pb.tok
    """


SPARK_SQL["tx_cms_tokens"] = _cms_spark_sql()
