"""Same-session matched-window A/B for the three r12 rewrites the r12
verdict flagged wrong-direction (verdict item 2): sim_label_drift,
s04_affinity_types_scaled, sim_knn_graph.

Both variants of each query are built in ONE session and their timed
reps ALTERNATE (A,B,A,B,...), so host-noise windows hit both sides
equally — the protocol scripts/qprof.py established in r12.  Output:
per-variant median/min + raw samples.

Usage:  python scripts/ab_r13.py [--reps N] [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from pyspark.sql import Window
from pyspark.sql import functions as F


def _label_drift_old(spark, sf_dir):
    """Pre-r12 sim_label_drift: two narrow groupBy(label) aggregates
    (base slice + full corpus) joined on label."""
    import math as _math2

    from chinook_music_database_analysis_spark.operators.similarity import EMB_DIM
    from chinook_music_database_analysis_spark.plans.extensions import _emb_count
    from chinook_music_database_analysis_spark.plans.scale_queries import (
        PCA_DRIFT_BASE_FRAC,
    )
    from chinook_music_database_analysis_spark.sources import load_tables

    d = EMB_DIM
    emb = load_tables(spark, sf_dir)["embeddings"]
    thr = int(_math2.floor(_emb_count(spark, sf_dir) * PCA_DRIFT_BASE_FRAC))

    def means(df):
        agg = df.groupBy("label").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            *[
                F.sum(F.element_at(F.col("embedding"), i).cast("double")).alias(
                    f"s{i}"
                )
                for i in range(1, d + 1)
            ],
        )
        sums = F.array(*[F.col(f"s{i}") for i in range(1, d + 1)])
        return agg.select(
            "label",
            "n",
            F.transform(
                sums,
                lambda x: F.floor(x / F.col("n") * F.lit(1e6) + F.lit(5e-1))
                / F.lit(1e6),
            ).alias("mu"),
        )

    mb = means(emb.filter(F.col("vec_id") < F.lit(thr))).select(
        "label", F.col("n").alias("n_b"), F.col("mu").alias("mu_b")
    )
    mf = means(emb)
    diff2 = F.aggregate(
        F.sequence(F.lit(1), F.lit(d)),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.element_at("mu", i) - F.element_at("mu_b", i))
        * (F.element_at("mu", i) - F.element_at("mu_b", i)),
    )
    return (
        mf.join(mb, "label")
        .select(
            "label",
            F.col("n_b").cast("long").alias("n_base"),
            F.col("n").cast("long").alias("n_full"),
            F.floor(F.sqrt(diff2) * F.lit(1e4) + F.lit(5e-1))
            .cast("long")
            .alias("shift_e4"),
        )
        .orderBy("label")
    )


def _s04_scaled_old(spark, sf_dir):
    """Pre-r12 s04_affinity_types_scaled: groupBy-first (map-side
    partial agg on (l_orderkey, v)), second exchange for the
    order-grain collect."""
    from chinook_music_database_analysis_spark.sources import load_tables

    t = load_tables(spark, sf_dir)
    items = (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("p_type").isNotNull())
        .select("l_orderkey", F.col("p_type").alias("v"))
    )
    counts = items.groupBy("l_orderkey", "v").agg(F.count(F.lit(1)).alias("c"))
    grouped = counts.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct("v", "c"))).alias("xs")
    )
    pair_expr = F.expr(
        """
        flatten(transform(xs, (x, i) ->
          transform(slice(xs, i + 2, size(xs)), y ->
            struct(x.v AS v1, y.v AS v2, x.c * y.c AS np))))
        """
    )
    return (
        grouped.select(F.explode(pair_expr).alias("pr"))
        .groupBy(
            F.col("pr.v1").alias("p_type_1"),
            F.col("pr.v2").alias("p_type_2"),
        )
        .agg(F.sum("pr.np").alias("n_pairs"))
    )


def _knn_graph_old(spark, sf_dir):
    """Pre-r12 sim_knn_graph: self-union for the reversed edges (the
    windowed expansion executes twice)."""
    from chinook_music_database_analysis_spark.operators.similarity import (
        KNN_GRAPH_K,
        KNN_WINDOW,
        _bucket_windowed_directed,
        _cos,
    )
    from chinook_music_database_analysis_spark.plans.extensions import (
        _emb_buckets,
        _emb_norms,
    )

    buckets = _emb_buckets(spark, sf_dir)
    wn = _emb_norms(spark, sf_dir)
    fwd = _bucket_windowed_directed(buckets, KNN_WINDOW).select(
        F.col("va").alias("src_id"), F.col("vb").alias("nbr_id")
    )
    cand = fwd.unionByName(
        fwd.select(F.col("nbr_id").alias("src_id"), F.col("src_id").alias("nbr_id"))
    ).distinct()
    scored = (
        cand.join(
            wn.select(
                F.col("vec_id").alias("src_id"),
                F.col("embedding").alias("emb_a"),
                F.col("norm").alias("norm_a"),
            ),
            "src_id",
        )
        .join(
            wn.select(
                F.col("vec_id").alias("nbr_id"),
                F.col("embedding").alias("emb_b"),
                F.col("norm").alias("norm_b"),
            ),
            "nbr_id",
        )
        .select(
            "src_id",
            "nbr_id",
            _cos("emb_a", "emb_b", "norm_a", "norm_b").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_GRAPH_K)
        .select("src_id", "nbr_id", "cos_sim", "rnk")
    )


def main() -> None:
    args = sys.argv[1:]
    reps = 7
    names = []
    it = iter(args)
    for a in it:
        if a == "--reps":
            reps = int(next(it))
        else:
            names.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from chinook_music_database_analysis_spark.cache import invalidate
    from chinook_music_database_analysis_spark.plans import QUERIES
    from chinook_music_database_analysis_spark.sources import get_spark

    pairs = {
        "sim_label_drift": (QUERIES["sim_label_drift"], _label_drift_old),
        "s04_affinity_types_scaled": (
            QUERIES["s04_affinity_types_scaled"],
            _s04_scaled_old,
        ),
        "sim_knn_graph": (QUERIES["sim_knn_graph"], _knn_graph_old),
    }
    if names:
        pairs = {n: pairs[n] for n in names}

    spark = get_spark("chinook-ab-r13")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id bigint").count()

    for name, (new_fn, old_fn) in pairs.items():
        # verify the row multisets agree before timing anything
        new_rows = sorted(map(str, new_fn(spark, sf_dir).collect()))
        old_rows = sorted(map(str, old_fn(spark, sf_dir).collect()))
        same = new_rows == old_rows
        samples: dict[str, list[float]] = {"new": [], "old": []}
        for _ in range(reps):
            for tag, fn in (("new", new_fn), ("old", old_fn)):
                # fresh plan per build on both sides (see scripts/vec_ab.py)
                invalidate(sf_dir)
                spark.sparkContext.setJobDescription(f"ab:{name}:{tag}")
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                samples[tag].append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        mn, mo = (statistics.median(samples[t]) for t in ("new", "old"))
        print(
            f"{name}: rows_equal={same} new_med={mn:.3f} old_med={mo:.3f} "
            f"ratio_old_over_new={mo / mn:.2f}\n"
            f"  new samples: {samples['new']}\n  old samples: {samples['old']}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
