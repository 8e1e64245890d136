"""A/B the Arrow dot-product kernel (operators.similarity.VECTOR_DOT)
against the JVM higher-order fold, in ONE session with alternating
timed reps (matched-window protocol) — plus a rows-equal gate per query
BEFORE any timing, so a semantics break can never be reported as a win.

Usage:  python scripts/vec_ab.py [--reps N] [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

DEFAULT_QUERIES = [
    "sim_bruteforce_topk",
    "sim_filtered_topk",
    "sim_mrl_topk",
    "sim_ivf_append",
    "sim_knn_graph",
    "dd_embedding_cosine",
    "dd_semantic",
    "sim_outlier_audit",
    "tx_hybrid_batch",
    "tx_hybrid_rrf",
]


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
    names = names or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import chinook_music_database_analysis_spark.operators.similarity as S
    from chinook_music_database_analysis_spark.cache import invalidate
    from chinook_music_database_analysis_spark.plans import QUERIES
    from chinook_music_database_analysis_spark.sources import get_spark

    spark = get_spark("chinook-vec-ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id bigint").count()

    def build(name, vec):
        # fresh plan per build on BOTH sides: the session cache would
        # otherwise serve variant A's plan to variant B (and hide the
        # build cost asymmetry)
        invalidate(sf_dir)
        S.VECTOR_DOT = vec
        try:
            return QUERIES[name](spark, sf_dir)
        finally:
            S.VECTOR_DOT = True

    for name in names:
        on_rows = sorted(map(str, build(name, True).collect()))
        off_rows = sorted(map(str, build(name, False).collect()))
        same = on_rows == off_rows
        samples = {"vec": [], "jvm": []}
        for _ in range(reps):
            for tag, vec in (("vec", True), ("jvm", False)):
                spark.sparkContext.setJobDescription(f"vec_ab:{name}:{tag}")
                # build inside the timed region — bench.py times
                # build+execute, and the kernel changes both sides
                t0 = time.perf_counter()
                build(name, vec).count()
                samples[tag].append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        mv, mj = (statistics.median(samples[t]) for t in ("vec", "jvm"))
        print(
            f"{name}: rows_equal={same} vec_med={mv:.3f} jvm_med={mj:.3f} "
            f"speedup_jvm_over_vec={mj / mv:.2f}\n"
            f"  vec: {samples['vec']}\n  jvm: {samples['jvm']}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
