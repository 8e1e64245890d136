"""Named derived views (catalog objects).

The reference defines one view, ``usa_genre_sales`` (ref
/root/reference/SQL_file.sql:148-165): per-genre USA revenue, its share
of total USA revenue, and a revenue rank.  Four later statements consume
it (ref:168, :197, :221, :270).

Driver-table remap (FIXTURES.md §2): genre -> ``part.p_type``,
USA -> ``nation.n_name = 'NATION_0'``, revenue ->
``l_extendedprice * (1 - l_discount)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..functions import SQL_REVENUE, revenue_expr, round2
from ..sources import load_tables

import os

#: The "USA" analog (ref filters WHERE billing_country='USA',
#: SQL_file.sql:43).  On the driver tables this is NATION_0; a Chinook
#: deployment (sources.chinook_adapter) sets CHINOOK_SPARK_NATION0=USA.
NATION0 = os.environ.get("CHINOOK_SPARK_NATION0", "NATION_0")

#: DuckDB text of the 5-way star join — THE one definition (r11: the
#: view SQL and parity.py carried independent copies); parity.py
#: re-exports it for its oracles.
SQL_STAR_N0 = f"""
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name = '{NATION0}'
"""


def _star_n0(t: dict) -> DataFrame:
    """lineitem ⋈ part ⋈ orders ⋈ customer ⋈ nation, filtered to NATION_0.

    The reference's flagship join shape (ref:32-42), ordered
    selective-side-first for scale: the nation filter (pushed into the
    nation scan) reduces customers ~25x, that reduces orders, and only
    the surviving ~4% of lineitem rows ever meet ``part``.  Catalyst
    doesn't reorder DataFrame joins without CBO stats, so the builder
    encodes the order a cost-based optimizer would pick; at local SF
    every dim side ends up broadcast anyway.  Lives here (not
    parity.py) so the view and every parity consumer share ONE
    definition of the star join.
    """
    cust_n0 = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name") == NATION0)
    )
    orders_n0 = t["orders"].join(cust_n0, F.col("o_custkey") == F.col("c_custkey"))
    return (
        t["lineitem"]
        .join(orders_n0, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
    )


#: Oracle-side text of the view, reused by every SQL consumer.
SQL_NATION0_TYPE_SALES = f"""
nation0_type_sales AS (
  SELECT p_type,
         CAST(ROUND(rev_d, 2) AS DOUBLE) AS revenue,
         ROUND(100.0 * CAST(rev_d AS DOUBLE) / CAST(SUM(rev_d) OVER () AS DOUBLE), 2)
           AS pct_of_nation,
         CAST(RANK() OVER (ORDER BY rev_d DESC) AS INTEGER) AS rnk
  FROM (
    SELECT p.p_type, SUM({SQL_REVENUE}) AS rev_d
    {SQL_STAR_N0}
    GROUP BY p.p_type
  )
)
""".strip()


def nation0_type_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type revenue / share / rank inside NATION_0 (ref:148-165).

    Plan shape: the nation filter pushes below the 5-way star join;
    nation is broadcast explicitly (25 rows — always safe), the other
    dims are left to AQE's broadcast decision since ``part``/``customer``
    grow with SF and would NOT be broadcastable at 100 TB.  The global
    share/rank windows run over a 6-row aggregate — negligible at any
    scale because aggregation reduced cardinality first.

    The reference view feeds four statements (ref:168, :197, :221,
    :270), so the 6-row aggregate is cached in the session cache: the
    star join runs once per session and corpus snapshot instead of once
    per consumer — the analog of a materialized view.
    """

    def build() -> DataFrame:
        sales = (
            _star_n0(load_tables(spark, sf_dir))
            .groupBy("p_type")
            .agg(F.sum(revenue_expr()).alias("rev_d"))
        )
        w_all = Window.partitionBy()
        w_rank = Window.orderBy(F.col("rev_d").desc())
        return sales.select(
            "p_type",
            round2(F.col("rev_d")).alias("revenue"),
            F.round(
                F.lit(100.0)
                * F.col("rev_d").cast("double")
                / F.sum("rev_d").over(w_all).cast("double"),
                2,
            ).alias("pct_of_nation"),
            F.rank().over(w_rank).alias("rnk"),
        )

    return memo("view:nation0_type_sales", spark, sf_dir, build, persist=True)
