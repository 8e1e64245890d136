"""Iterative graph algorithms on DataFrames: integer-exact PageRank.

Spark has no built-in graph operator surface (GraphX is RDD/Scala,
GraphFrames is an external package), but the DataFrame API expresses
the standard bulk-synchronous iteration directly: each superstep is
one edge⨝rank join + one destination-keyed aggregation, and the loop
unrolls into a single lazy plan (for bounded iteration counts — the
classic PageRank-on-Spark shape; checkpoint every ~10 supersteps at
larger depths to cut lineage).

**Integer-exact**: ranks are maintained as bigint micro-units
(``PAGERANK_SCALE`` = 1e12) and every per-edge contribution uses integer
division by the weighted out-degree.  Floating-point PageRank sums
contributions in partition order — unreproducible across engines or
even runs; the integer form makes a SQL oracle reproduce every rank
bit-for-bit, the same design as the engine's z-scores and TF-IDF.
The quantization error is bounded by out_degree/PAGERANK_SCALE per node per
superstep — noise at 1e-12 resolution, irrelevant to ranking.

At 100 TB: edges shuffle once per superstep on dst (src-side rank
join co-partitions with a persisted edge partitioning); rank state is
one slim (node, bigint) relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 10**12
PAGERANK_D_NUM = 85  # damping 0.85 as an integer percentage
PAGERANK_ITERS = 3  # bulk-synchronous supersteps


def pagerank_integer(edges: DataFrame) -> DataFrame:
    """PageRank over a directed weighted edge list (src, dst, w),
    ``PAGERANK_ITERS`` bulk-synchronous supersteps, all-integer
    arithmetic, with N the count of distinct src/dst nodes and d
    ``PAGERANK_D_NUM``:

    ``pr0 = PAGERANK_SCALE div N``;
    ``pr'(v) = ((100 - d) * (PAGERANK_SCALE div N)
                + d * SUM_u (pr(u) * w(u,v) div W_out(u))) div 100``.

    Every node must have BOTH in- and out-edges (true for symmetrized
    co-occurrence graphs; add self-loops otherwise — the dangling-mass
    correction): a node with no out-edges leaks its mass, and a node
    with no in-edges drops out of the rank relation after superstep 1
    (both engines implement that identically — the oracle stays in
    lockstep — but it is not textbook PageRank on such graphs).
    Returns (node, pr) with pr in bigint micro-units.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    pr0 = PAGERANK_SCALE // nodes.count()
    base = (100 - PAGERANK_D_NUM) * pr0
    wout = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("w_out"))
    ew = edges.join(wout, "src").select(
        F.col("src").alias("e_src"),
        F.col("dst").alias("e_dst"),
        F.col("w").cast("bigint").alias("e_w"),
        "w_out",
    )
    pr = nodes.select("node", F.lit(pr0).cast("bigint").alias("pr"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            ew.join(pr, ew.e_src == pr.node)
            .select(
                F.col("e_dst").alias("node"),
                F.expr("(pr * e_w) div w_out").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        pr = contrib.select(
            "node",
            F.expr(f"({base} + {PAGERANK_D_NUM} * s) div 100").cast("bigint").alias("pr"),
        )
    return pr


def pagerank_oracle_sql(edges_cte: str) -> str:
    """DuckDB CTE chain computing the identical ranks — the supersteps
    unrolled from the same constants (``edges_cte`` must define
    ``ed(src, dst, n)``)."""
    parts = [
        edges_cte,
        # src UNION dst, matching pagerank_integer's node set exactly
        # (r12 review: the old src-only form coincided with the Spark
        # side on symmetrized graphs — every registered usage — but
        # would disagree on N, hence pr0, for any digraph with
        # sink-only nodes)
        "nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed)",
        "prm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        "wout AS (SELECT src, CAST(SUM(n) AS BIGINT) AS w_out FROM ed GROUP BY src)",
        f"pr0 AS (SELECT node, (SELECT {PAGERANK_SCALE} // n FROM prm) AS pr FROM nodes)",
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f"""pr{i} AS (
      SELECT e.dst AS node,
             ((SELECT ({100 - PAGERANK_D_NUM}) * ({PAGERANK_SCALE} // n) FROM prm)
              + {PAGERANK_D_NUM} * SUM((p.pr * e.n) // w.w_out)) // 100 AS pr
      FROM ed e
      JOIN pr{i - 1} p ON p.node = e.src
      JOIN wout w ON w.src = e.src
      GROUP BY e.dst
    )"""
        )
    last = f"pr{PAGERANK_ITERS}"
    return ",\n    ".join(parts) + f"\n    SELECT node, CAST(pr AS BIGINT) AS pr FROM {last}"
