"""Operator-invariant property tests (SURVEY.md §5.2 layer 3).

These check internal consistency of the engine's outputs — relations
that must hold regardless of data — complementing the oracle gate.
"""

from __future__ import annotations

import pandas as pd
import pytest

from chinook_music_database_analysis_spark.cache import invalidate
from chinook_music_database_analysis_spark.plans import QUERIES

from conftest import SF_TEST_DIR, write_table_dir


@pytest.fixture(scope="module")
def results(spark):
    """Materialize the queries these properties inspect (once)."""
    names = [
        "q02_top_parts_nation0",
        "q05_top5_cust_per_nation",
        "q08_churn_rate",
        "q09_type_pct_nation0",
        "s04_affinity_types",
        "s04_affinity_types_scaled",
        "s05_regional_churn",
        "q10_multi_type_cust",
        "sim_bruteforce_topk",
        "sim_lsh_topk",
        "dd_ngram_jaccard",
        "tx_langid",
    ]
    return {n: QUERIES[n](spark, SF_TEST_DIR).toPandas() for n in names}


def test_rank_starts_at_one_and_is_dense_enough(results):
    r = results["q02_top_parts_nation0"]
    assert r.rnk.min() == 1
    # RANK can skip after ties but the filtered prefix must be contiguous
    # from 1 in the sense that every rank value <= 5.
    assert (r.rnk <= 5).all()


def test_dense_rank_per_group_contiguous(results):
    r = results["q05_top5_cust_per_nation"]
    for _, g in r.groupby("n_name"):
        ranks = sorted(g.rnk.unique())
        assert ranks == list(range(1, len(ranks) + 1)), "DENSE_RANK must not skip"


def test_churn_rate_bounds(results):
    r = results["q08_churn_rate"]
    assert 0 <= r.churn_rate_pct.iloc[0] <= 100
    assert r.churned_customers.iloc[0] <= r.total_customers.iloc[0]
    s = results["s05_regional_churn"]
    assert s.churn_rate_pct.between(0, 100).all()
    assert (s.churned_customers <= s.n_customers).all()


def test_view_pct_sums_to_100(results):
    r = results["q09_type_pct_nation0"]
    assert abs(r.pct_of_nation.sum() - 100.0) < 0.05  # rounding slack


def test_pair_canonicalization_and_rewrite_equivalence(results):
    lit = results["s04_affinity_types"]
    assert (lit.p_type_1 < lit.p_type_2).all(), "pairs must be canonical a<b"
    scaled = results["s04_affinity_types_scaled"]
    a = lit.sort_values(["p_type_1", "p_type_2"]).reset_index(drop=True)
    b = scaled.sort_values(["p_type_1", "p_type_2"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_count_distinct_bounded(results):
    r = results["q10_multi_type_cust"]
    assert (r.n_types > 2).all()
    assert (r.n_types <= 6).all()  # only 6 p_type values exist


def test_topk_is_prefix_of_full_ranking(results):
    r = results["sim_bruteforce_topk"]
    for _, g in r.groupby("query_id"):
        assert sorted(g.rnk) == list(range(1, len(g) + 1))
        # descending by rounded cosine with neighbor_id tiebreak
        gg = g.sort_values("rnk")
        assert (gg.cos_sim.diff().dropna() <= 1e-12).all()


def test_lsh_is_subset_quality(results):
    """Every LSH hit must also appear in the brute-force scoring with
    the same cosine (same scoring function, restricted candidates)."""
    bf = results["sim_bruteforce_topk"]
    lsh = results["sim_lsh_topk"]
    bf_scores = {(r.query_id, r.neighbor_id): r.cos_sim for r in bf.itertuples()}
    for r in lsh.itertuples():
        key = (r.query_id, r.neighbor_id)
        if key in bf_scores:
            assert abs(bf_scores[key] - r.cos_sim) < 1e-9


def test_jaccard_bounds(results):
    r = results["dd_ngram_jaccard"]
    assert r.jaccard.between(0, 1).all()
    assert (r.doc_a < r.doc_b).all()


def test_langid_outputs_known_labels(results):
    r = results["tx_langid"]
    assert set(r.pred_lang.unique()) <= {"en", "de", "es", "fr", "zh"}
    assert len(r) == r.doc_id.nunique()


def test_dup_clusters_consistent_with_pairs(spark):
    """Every pair endpoint must land in the same cluster, and every
    cluster id must be the min doc_id of its members."""
    from chinook_music_database_analysis_spark.plans import QUERIES

    pairs = QUERIES["dd_minhash_pairs"](spark, SF_TEST_DIR).toPandas()
    clusters = QUERIES["dd_dup_clusters"](spark, SF_TEST_DIR).toPandas()
    label = dict(zip(clusters.doc_id, clusters.cluster_id))
    for r in pairs.itertuples():
        assert label[r.doc_a] == label[r.doc_b], (r.doc_a, r.doc_b)
    by_cluster = clusters.groupby("cluster_id").doc_id.min()
    assert (by_cluster.index == by_cluster.values).all()


def test_dup_clusters_deep_chain(spark):
    """A 32-node path graph (diameter 31) must fully converge to one
    cluster — exercises the pointer-jumping rounds, which a single
    neighbor-min pass cannot finish (plain propagation would need 31
    rounds, far beyond the max_iter cap; pointer jumping needs ~5)."""
    from chinook_music_database_analysis_spark.operators.dedup import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "doc_a long, doc_b long"
    )
    out = duplicate_clusters(pairs).toPandas()
    assert len(out) == 32
    assert set(out.cluster_id) == {0}


def test_approx_distinct_within_tolerance(spark):
    """HLL++ estimates (rsd=0.02) must track exact distinct counts.
    q10b folds the |approx - exact| <= max(8%, 4) check into its own
    approx_within_tol column (which the DuckDB oracle asserts TRUE);
    here we check it holds on the test SF too, and that the exact
    counts agree with an independent computation."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.plans import QUERIES

    out = (
        QUERIES["q10b_approx_distinct"](spark, SF_TEST_DIR)
        .toPandas()
        .set_index("o_custkey")
        .sort_index()
    )
    assert out.approx_within_tol.all(), out[~out.approx_within_tol]
    li = spark.read.parquet(f"{SF_TEST_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_TEST_DIR}/orders.parquet")
    exact = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .toPandas()
        .set_index("o_custkey")
        .sort_index()
    )
    assert (out.exact_parts == exact.n).all()


def test_incremental_pairs_equal_full_pairs_increment(spark):
    """incremental_candidate_pairs(bands, t) must equal the full
    candidate pair set restricted to pairs whose newer doc is >= t."""
    from chinook_music_database_analysis_spark.operators.dedup import (
        doc_shingles,
        incremental_candidate_pairs,
        minhash_bands,
        minhash_candidate_pairs,
    )
    from chinook_music_database_analysis_spark.sources import load_tables

    from conftest import SF_TEST_DIR

    docs = load_tables(spark, SF_TEST_DIR)["documents"]
    bands = minhash_bands(doc_shingles(docs)).cache()
    try:
        n = docs.count()
        t = (n * 8) // 10
        full = {
            (r.doc_a, r.doc_b)
            for r in minhash_candidate_pairs(bands).collect()
        }
        inc = {
            (r.doc_a, r.doc_b)
            for r in incremental_candidate_pairs(bands, t).collect()
        }
        assert inc == {p for p in full if p[1] >= t}
        assert inc  # non-trivial at the test scale
    finally:
        bands.unpersist()


# ---------------------------------------------------------------------------
# r3 primitives: Morton bijectivity, temperature accounting, repetition
# bounds — pure-function properties via hypothesis where applicable.
# ---------------------------------------------------------------------------


def _py_spread(v: int) -> int:
    v &= 0xFFFF
    for s, m in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        v = (v | (v << s)) & m
    return v


def _py_unspread(v: int) -> int:
    v &= 0x55555555
    for s, m in ((1, 0x33333333), (2, 0x0F0F0F0F), (4, 0x00FF00FF), (8, 0x0000FFFF)):
        v = (v | (v >> s)) & m
    return v


def test_morton_is_a_bijection_hypothesis():
    """morton(x, y) must be invertible — file pruning correctness rests
    on distinct (x, y) cells mapping to distinct curve positions."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.integers(0, 0xFFFF), st.integers(0, 0xFFFF))
    def check(x, y):
        z = _py_spread(x) | (_py_spread(y) << 1)
        assert _py_unspread(z) == x and _py_unspread(z >> 1) == y

    check()


def test_temperature_quota_accounting_hypothesis():
    """Whatever the domain histogram, thresholds stay in [0, 0xffff]
    and total expected kept docs never exceed the target by more than
    rounding slack (one doc per domain)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from chinook_music_database_analysis_spark.operators.curation import (
        temperature_thresholds,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.dictionaries(
            st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=6),
            st.integers(1, 10_000_000),
            min_size=1,
            max_size=12,
        ),
        st.integers(1, 100),
    )
    def check(counts, pct):
        thr = temperature_thresholds(counts, pct)
        assert set(thr) == set(counts)
        total = sum(counts.values())
        target = total * pct // 100
        expected_kept = sum(counts[s] * thr[s] / 65536 for s in counts)
        assert all(0 <= t <= 0xFFFF for t in thr.values())
        # floor-rounding only loses docs; capped domains can't overshoot
        assert expected_kept <= target + len(counts)

    check()


def test_repetition_fracs_bounded(spark):
    r = QUERIES["tx_repetition"](spark, SF_TEST_DIR).toPandas()
    assert len(r) > 0
    assert ((r.top_token_frac > 0) & (r.top_token_frac <= 1)).all()
    assert ((r.dup_2gram_frac >= 0) & (r.dup_2gram_frac <= 1)).all()
    # a doc of distinct tokens can't be flagged repetitive
    uniform = r[(r.dup_2gram_frac == 0) & (r.top_token_frac <= 0.2)]
    assert not uniform.is_repetitive.any()


def test_anomaly_zscores_standardized(spark):
    """Per event type, z-scores must be mean~0 / bounded spread (they
    are standardized residuals of the hourly counts), and every
    is_spike row must carry |z| > 2."""
    r = QUERIES["ev_anomaly_hours"](spark, SF_TEST_DIR).toPandas()
    assert len(r) > 0
    for _, g in r.groupby("event_type"):
        if len(g) > 5 and (g.z != 0).any():
            assert abs(g.z.mean()) < 0.2
    spikes = r[r.is_spike]
    assert (spikes.z.abs() > 2).all()


def test_pagerank_mass_and_centrality(spark):
    """Rank mass stays ~conserved (total within quantization slack of
    scale) and the most-connected node outranks the least-connected —
    the centrality semantics, independent of the oracle."""
    from chinook_music_database_analysis_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        # star: hub h connected to a,b,c; plus a weak a-b edge
        [("h", "a", 3), ("a", "h", 3), ("h", "b", 2), ("b", "h", 2),
         ("h", "c", 2), ("c", "h", 2), ("a", "b", 1), ("b", "a", 1)],
        "src string, dst string, w long",
    )
    pr = {r["node"]: r["pr"] for r in pagerank_integer(edges).collect()}
    assert set(pr) == {"h", "a", "b", "c"}
    total = sum(pr.values())
    assert abs(total - PAGERANK_SCALE) < PAGERANK_SCALE * 0.01
    assert pr["h"] > pr["a"] > pr["c"]  # hub first; a has the extra edge over c


def test_pagerank_oracle_lockstep_on_digraph(spark):
    """r12 review: the oracle helper's node set was src-only, which
    coincided with pagerank_integer's src-UNION-dst on the symmetrized
    registered graphs but diverged on N (hence pr0) for any digraph
    with sink nodes.  Pin the two engines bit-for-bit on a genuinely
    asymmetric graph: a sink (d: in-edges only) and a source (x:
    out-edges only, drops out after superstep 1 in BOTH engines)."""
    import duckdb

    from chinook_music_database_analysis_spark.operators.graph import (
        pagerank_integer,
        pagerank_oracle_sql,
    )

    edges = [
        ("a", "b", 2), ("b", "c", 1), ("a", "c", 1),
        ("c", "a", 1), ("c", "d", 3), ("x", "b", 5),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {(r["node"], int(r["pr"])) for r in pagerank_integer(df).collect()}

    vals = ", ".join(f"('{s}','{d}',{n})" for s, d, n in edges)
    cte = f"ed(src, dst, n) AS (SELECT * FROM (VALUES {vals}))"
    want = {
        (r[0], int(r[1]))
        for r in duckdb.sql("WITH " + pagerank_oracle_sql(cte)).fetchall()
    }
    assert got == want
    # the sink kept a rank row; the in-edge-less source dropped out
    nodes = {n for n, _ in got}
    assert "d" in nodes and "x" not in nodes


def test_dup_ngram_stats_extremes(spark):
    """Duplicated docs have dup_frac == 1.0; a doc sharing no k-gram
    with anyone has dup_frac == 0.0; counts are consistent."""
    from chinook_music_database_analysis_spark.operators.dedup import (
        doc_shingles,
        dup_ngram_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # exact copy of 1
            (3, "zeta eta theta iota kappa lambda"),  # shares nothing
        ],
        "doc_id long, text string",
    )
    r = {row["doc_id"]: row for row in dup_ngram_stats(doc_shingles(docs)).collect()}
    assert r[1]["dup_frac"] == 1.0 and r[2]["dup_frac"] == 1.0
    assert r[3]["dup_frac"] == 0.0 and r[3]["n_dup_shingles"] == 0
    for row in r.values():
        assert 0 <= row["n_dup_shingles"] <= row["n_shingles"]


def test_semantic_dedup_min_id_kept_and_drops_justified(spark):
    """SemDeDup invariants on a crafted two-cluster corpus: the min
    vec_id of every cell is always kept; every dropped vector has a
    LOWER-id same-cell neighbor with cosine >= threshold (brute-force
    verified); near-identical copies collapse to one representative."""
    import numpy as np

    from chinook_music_database_analysis_spark.operators.similarity import (
        ivf_assignments,
        semantic_dedup,
    )

    dim = 4
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.99, 0.01, 0.0, 0.0],   # near-dup of 0
        2: [0.98, -0.02, 0.0, 0.0],  # near-dup of 0
        3: [0.0, 1.0, 0.0, 0.0],
        4: [0.01, 0.99, 0.0, 0.0],   # near-dup of 3
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0], 1.0), (1, [0.0, 1.0, 0.0, 0.0], 1.0)],
        "cell_id long, c_emb array<double>, c_norm double",
    )
    assigned = ivf_assignments(emb, cents)
    out = {r["vec_id"]: r for r in semantic_dedup(assigned, threshold=0.95).collect()}
    assert len(out) == len(vecs)
    by_cell: dict = {}
    for r in out.values():
        by_cell.setdefault(r["cell_id"], []).append(r)
    for rows in by_cell.values():
        min_id = min(r["vec_id"] for r in rows)
        assert next(r for r in rows if r["vec_id"] == min_id)["keep"]

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    for r in out.values():
        if not r["keep"]:
            assert any(
                o["vec_id"] < r["vec_id"]
                and o["cell_id"] == r["cell_id"]
                and cos(vecs[o["vec_id"]], vecs[r["vec_id"]]) >= 0.95
                for o in out.values()
            ), f"unjustified drop: {r}"
    # the two near-dup groups collapse: exactly 2 keepers (0 and 3)
    assert sorted(i for i, r in out.items() if r["keep"]) == [0, 3]


def test_unigram_surprisal_closed_forms(spark):
    """Constant corpus => 0 bits everywhere; a 50/50 two-token vocab
    => every token costs exactly round(log2(2)*1000) = 1000 millibits."""
    from chinook_music_database_analysis_spark.operators.text import (
        bm25_corpus_relations,
        unigram_surprisal,
    )

    const = spark.createDataFrame(
        [(1, "x x x x"), (2, "x x")], "doc_id long, text string"
    )
    for r in unigram_surprisal(bm25_corpus_relations(const)[0]).collect():
        assert r["q_millibits"] == 0 and r["mb_per_token"] == 0

    even = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a b a")], "doc_id long, text string"
    )
    for r in unigram_surprisal(bm25_corpus_relations(even)[0]).collect():
        assert r["mb_per_token"] == 1000
        assert r["q_millibits"] == 1000 * r["n_tokens"]


def test_fuzzy_name_pairs_brute_force_within_block(spark):
    """Every emitted pair is a true Levenshtein<=2 match (verified by
    brute force); every true match SHARING a head token is found
    (blocking completeness within blocks); the documented blocking miss
    (edit in the head token itself) is indeed absent."""
    from chinook_music_database_analysis_spark.operators.dedup import fuzzy_name_pairs

    names = [
        "cold widget", "bold widget", "old widget",   # head block 'widget'
        "cold gadget",                                  # head differs -> missed vs widgets
        "red gizmo", "red gizmos",                      # different blocks entirely
    ]
    df = spark.createDataFrame([(i, n) for i, n in enumerate(names)], "id long, nm string")
    got = {(r["name_a"], r["name_b"], r["edit_dist"])
           for r in fuzzy_name_pairs(df, "nm", max_dist=2).collect()}

    def lev(a, b):
        import numpy as np
        d = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return int(d[len(b)])

    blk = lambda s: s.split(" ")[-1]
    expect = {
        (a, b, lev(a, b))
        for a in names for b in names
        if a < b and blk(a) == blk(b) and lev(a, b) <= 2
    }
    assert got == expect
    assert all(d >= 1 for *_, d in got)  # distinct strings never at 0
    # cross-block pairs never appear, even if a true match existed
    # there (recall<1 by design, like LSH):
    assert not any("gadget" in a and "widget" in b or "widget" in a and "gadget" in b
                   for a, b, _ in got)


def test_fuzzy_multi_pass_recovers_head_token_edits(spark):
    """multi_pass=True adds the first-token blocking pass: a pair whose
    edits sit entirely in the head token ('cold widget'/'cold widgets')
    vs one whose edits sit in the first token are BOTH found, while
    single-pass finds only the latter; multi-pass output stays a
    superset of single-pass and introduces no false positives."""
    from chinook_music_database_analysis_spark.operators.dedup import fuzzy_name_pairs

    names = ["cold widget", "cold widgets", "bold widget"]
    df = spark.createDataFrame([(i, n) for i, n in enumerate(names)], "id long, nm string")
    single = {(r["name_a"], r["name_b"]) for r in
              fuzzy_name_pairs(df, "nm", max_dist=2).collect()}
    multi = {(r["name_a"], r["name_b"]) for r in
             fuzzy_name_pairs(df, "nm", max_dist=2, multi_pass=True).collect()}
    assert ("bold widget", "cold widget") in single          # same head token
    assert ("cold widget", "cold widgets") not in single     # head-token edit missed
    assert ("cold widget", "cold widgets") in multi          # recovered by pass 2
    assert single <= multi
    # no false positives: every multi pair is a true lev<=2 match
    assert all(d <= 2 for d in
               (r["edit_dist"] for r in
                fuzzy_name_pairs(df, "nm", max_dist=2, multi_pass=True).collect()))


def test_fuzzy_recall_measured_against_exact_truth(spark):
    """Quantified recall (VERDICT r3 #5): exact thresholded-Levenshtein
    ground truth over the ENTIRE distinct part-name dictionary (a
    test-only all-pairs cross join — tiny at dictionary grain), then
    measured recall of the blocked single pass and the multi-pass
    union.  On the driver corpus both measure 1.0 (every near pair
    shares its head token); the asserted floors are the production
    guarantees: single >= 0.9, multi >= single, and multi additionally
    recovers every pair whose edits avoid one of the two blocking
    tokens (the synthetic head-edit case in the test above)."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.dedup import fuzzy_name_pairs

    part = spark.read.parquet(f"{SF_TEST_DIR}/part.parquet")
    names = part.select(F.col("p_name").alias("name")).distinct()
    truth = {
        (r[0], r[1])
        for r in names.alias("a")
        .crossJoin(names.alias("b"))
        .filter(F.col("a.name") < F.col("b.name"))
        .withColumn("d", F.expr("levenshtein(a.name, b.name, 2)"))
        .filter(F.col("d") >= 0)
        .select("a.name", "b.name")
        .collect()
    }
    assert truth, "fixture dictionary has no near pairs"
    single = {
        (r["name_a"], r["name_b"])
        for r in fuzzy_name_pairs(part, "p_name", max_dist=2).collect()
    }
    multi = {
        (r["name_a"], r["name_b"])
        for r in fuzzy_name_pairs(part, "p_name", max_dist=2, multi_pass=True).collect()
    }
    # no false positives ever (blocking only drops, never invents)
    assert single <= truth and multi <= truth
    recall_single = len(single & truth) / len(truth)
    recall_multi = len(multi & truth) / len(truth)
    assert recall_single >= 0.9, recall_single
    assert recall_multi >= recall_single
    # candidate-count bound: blocked candidates stay far below the
    # all-pairs product (the whole point of blocking)
    n = names.count()
    blocked = names.withColumn("blk", F.element_at(F.split("name", " "), -1))
    cand = (
        blocked.alias("a")
        .join(blocked.alias("b"), "blk")
        .filter(F.col("a.name") < F.col("b.name"))
        .count()
    )
    assert cand < n * (n - 1) / 2 / 2, (cand, n)


def test_gopher_quality_rule_consistency(spark):
    """keep == conjunction of the per-rule booleans, and each boolean
    must re-derive from its own signal columns — the audit-dashboard
    contract (a flag that disagrees with its signal is a silent filter
    bug)."""
    from chinook_music_database_analysis_spark.operators.text import (
        GOPHER_AVG_LEN_MAX_Q,
        GOPHER_AVG_LEN_MIN_Q,
        GOPHER_MAX_TOKENS,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_TOKENS,
        GOPHER_MIN_UNIQUE_Q,
        gopher_quality,
    )

    docs = spark.read.parquet(f"{SF_TEST_DIR}/documents.parquet")
    r = gopher_quality(docs).toPandas()
    assert len(r) == docs.count()
    assert (r.keep == (r.r_len & r.r_avg_len & r.r_unique & r.r_stopwords)).all()
    assert (
        r.r_len == r.n_tokens.between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
    ).all()
    assert (
        r.r_avg_len == r.avg_len_q.between(GOPHER_AVG_LEN_MIN_Q, GOPHER_AVG_LEN_MAX_Q)
    ).all()
    assert (r.r_unique == (r.unique_q >= GOPHER_MIN_UNIQUE_Q)).all()
    assert (r.r_stopwords == (r.sw_hits >= GOPHER_MIN_STOP_HITS)).all()
    # fixed-point ratios live in sane ranges (quantized fractions)
    assert (r.unique_q <= 10_000).all() and (r.unique_q > 0).all()
    assert (r.avg_len_q > 0).all()
    # the synthetic corpus is word salad: both extremes must appear so
    # the filter is exercised in both directions
    assert r.keep.any() and (~r.keep).any()


def test_cluster_sample_quota_and_determinism(spark):
    """Per-cell quota is exact (min(n_cell, M) rows per cell), sampled
    vec_ids are unique, and a re-run picks the identical rows (the
    content-addressed coin)."""
    from chinook_music_database_analysis_spark.operators.similarity import (
        CLUSTER_SAMPLE_M,
        cluster_sample,
        ivf_assignments,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
    cents = kmeans_centroids(emb, emb.count())
    r = cluster_sample(ivf_assignments(emb, cents)).toPandas()
    assert r.vec_id.is_unique
    assert (r.rnk >= 1).all() and (r.rnk <= CLUSTER_SAMPLE_M).all()
    per_cell = r.groupby("cell_id").agg(taken=("rnk", "size"), n=("n_cell", "first"))
    assert (per_cell.taken == per_cell.n.clip(upper=CLUSTER_SAMPLE_M)).all()
    # dense cells are capped: the sample can't mirror the population
    # skew (the whole point of balancing)
    if (per_cell.n > CLUSTER_SAMPLE_M).any():
        assert (per_cell.taken.max() == CLUSTER_SAMPLE_M)
    r2 = cluster_sample(ivf_assignments(emb, cents)).toPandas()
    a = r.sort_values(["cell_id", "rnk"]).reset_index(drop=True)
    b = r2.sort_values(["cell_id", "rnk"]).reset_index(drop=True)
    assert a.equals(b)


def test_filter_funnel_monotone(spark):
    """Funnel counts must be monotone non-increasing, start at the
    corpus size, and each stage's count must re-derive from the
    underlying operators (quality count == gopher keepers)."""
    from chinook_music_database_analysis_spark.operators.text import gopher_quality
    from chinook_music_database_analysis_spark.plans import QUERIES

    r = (
        QUERIES["pipe_filter_funnel"](spark, SF_TEST_DIR)
        .toPandas()
        .sort_values("stage")
        .reset_index(drop=True)
    )
    assert list(r.stage) == [0, 1, 2, 3]
    assert list(r.stage_name) == ["raw", "quality", "dedup", "decontam"]
    docs = spark.read.parquet(f"{SF_TEST_DIR}/documents.parquet")
    assert r.n_docs[0] == docs.count()
    assert (r.n_docs.diff().dropna() <= 0).all()
    n_keep = gopher_quality(docs).filter("keep").count()
    assert r.n_docs[1] == n_keep


def test_knn_graph_degree_and_symmetry(spark):
    """Every vector's out-degree is <= k (exactly k when enough
    bucket-mates exist), ranks are contiguous from 1, and the cosine
    score is symmetric where both directed edges exist."""
    from chinook_music_database_analysis_spark.plans import QUERIES

    r = QUERIES["sim_knn_graph"](spark, SF_TEST_DIR).toPandas()
    from chinook_music_database_analysis_spark.operators.similarity import (
        KNN_GRAPH_K,
    )

    deg = r.groupby("src_id").rnk.agg(["size", "max", "min"])
    assert (deg["size"] <= KNN_GRAPH_K).all()
    assert (deg["max"] == deg["size"]).all() and (deg["min"] == 1).all()
    assert not (r.src_id == r.nbr_id).any()
    fwd = {(a, b): c for a, b, c in zip(r.src_id, r.nbr_id, r.cos_sim)}
    both = [(k, fwd[(k[1], k[0])]) for k in fwd if (k[1], k[0]) in fwd]
    assert both, "no reciprocal edges on the fixture corpus"
    assert all(abs(fwd[k] - c) < 1e-12 for k, c in both)


def test_cdc_latest_state_consistency(spark):
    """The compacted state must carry each key's true maximum (ts,
    event_id) version and a version count that sums back to the corpus
    row count."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.plans import QUERIES

    r = QUERIES["ev_cdc_latest_state"](spark, SF_TEST_DIR).toPandas()
    ev = spark.read.parquet(f"{SF_TEST_DIR}/events.parquet")
    from chinook_music_database_analysis_spark.sources.session import (
        _normalize_event_ts,
    )

    ev = _normalize_event_ts(ev)
    assert r.n_versions.sum() == ev.count()
    truth = (
        ev.groupBy("user_id", "event_type")
        .agg(F.max(F.struct("ts", "event_id")).alias("m"))
        .select("user_id", "event_type", F.col("m.event_id").alias("last_event_id"))
        .toPandas()
    )
    merged = r.merge(truth, on=["user_id", "event_type"], suffixes=("", "_t"))
    assert len(merged) == len(r) == len(truth)
    assert (merged.last_event_id == merged.last_event_id_t).all()


def test_containment_dominates_jaccard(spark):
    """For any candidate pair, max-containment >= Jaccard (the min
    size never exceeds the union), and a synthetic snippet (short doc
    embedded in a long one) must be caught by containment."""
    import pandas as pd

    from chinook_music_database_analysis_spark.operators.dedup import (
        candidate_restricted_shingles,
        containment_pairs,
        doc_shingles,
        minhash_bands,
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    def verify_inputs(d):
        sh = doc_shingles(d)
        cand = minhash_candidate_pairs(minhash_bands(sh))
        return sh, cand, candidate_restricted_shingles(sh, cand)

    docs = spark.read.parquet(f"{SF_TEST_DIR}/documents.parquet")
    sh, cand, sh_cand = verify_inputs(docs)
    cont = containment_pairs(sh, cand, threshold=0.0).toPandas()
    jac = ngram_jaccard_pairs(cand, sh_cand, threshold=0.0).toPandas()
    m = cont.merge(jac, on=["doc_a", "doc_b"])
    assert len(m) == len(cont) == len(jac)
    assert (m.containment >= m.jaccard - 1e-9).all()
    # synthetic snippet: doc B = A's text + a modest distinct tail.
    # The tail must stay small enough for MinHash bands to still
    # collide — extreme-asymmetry pairs are the operator's DOCUMENTED
    # recall limit (Jaccard-tuned banding under-proposes them), so
    # this asserts the containment math on a banded pair, and that
    # containment visibly exceeds the diluted Jaccard.
    from pyspark.sql import functions as F

    a = (
        docs.orderBy(F.col("n_chars").desc())
        .limit(1)
        .select(F.lit(900001).alias("doc_id"), "text")
    )
    tail = " ".join(f"tailword{i}" for i in range(8))
    b = a.select(
        F.lit(900002).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + tail)).alias("text"),
    )
    two = a.unionAll(b)
    sh, cand, sh_cand = verify_inputs(two)
    pair = containment_pairs(sh, cand).toPandas()
    hit = pair[(pair.doc_a == 900001) & (pair.doc_b == 900002)]
    assert len(hit) == 1 and hit.c_a_in_b.iloc[0] >= 0.95
    jpair = ngram_jaccard_pairs(cand, sh_cand, threshold=0.0).toPandas()
    jhit = jpair[(jpair.doc_a == 900001) & (jpair.doc_b == 900002)]
    assert hit.containment.iloc[0] > jhit.jaccard.iloc[0]


def test_containment_probe_recovers_extreme_asymmetry(spark):
    """A tiny snippet inside a huge host has near-zero Jaccard, so the
    MinHash bands (all 16 slot minima dominated by host shingles) miss
    it — the probe pass must recover it: the snippet's bottom-k
    shingles are by definition present in the host."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.dedup import (
        containment_probe_candidates,
        doc_shingles,
        minhash_bands,
        minhash_candidate_pairs,
    )

    # host: 400 distinct words; snippet: a 12-word span copied from it
    host_words = [f"hw{i}" for i in range(400)]
    snippet = " ".join(host_words[100:112])
    docs = spark.createDataFrame(
        [(1, " ".join(host_words)), (2, snippet)], "doc_id long, text string"
    )
    sh = doc_shingles(docs).cache()
    banded = {
        (r.doc_a, r.doc_b) for r in minhash_candidate_pairs(minhash_bands(sh)).collect()
    }
    probed = {(r.doc_a, r.doc_b) for r in containment_probe_candidates(sh).collect()}
    assert (1, 2) not in banded  # Jaccard ~ 10/398: bands cannot collide
    assert (1, 2) in probed
    # max_df cap: with df<=1 every shared shingle's posting is dropped,
    # so the pair disappears — the prefix-filter trade-off is explicit
    capped = {
        (r.doc_a, r.doc_b)
        for r in containment_probe_candidates(sh, max_df=1).collect()
    }
    assert (1, 2) not in capped
    sh.unpersist()


def test_containment_recall_measured_against_exact_truth(spark):
    """Quantified containment recall (VERDICT r4 #3): exact all-pairs
    ground truth (test-only shingle self-join at sf0.001 — fine at
    corpus grain here, never a production plan), then measured recall
    of LSH-banded candidates alone vs the banded+probe union that
    dd_containment now runs on.  Floors: union >= 0.95 and union >=
    banded-only; no false positives either way (scores are exact on
    every proposed pair)."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.dedup import (
        containment_pairs,
        containment_probe_candidates,
        doc_shingles,
        minhash_bands,
        minhash_candidate_pairs,
    )

    docs = spark.read.parquet(f"{SF_TEST_DIR}/documents.parquet")
    sh = doc_shingles(docs).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    truth_df = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .filter(
            F.greatest(
                F.round(F.col("n_inter") / F.col("n_a"), 4),
                F.round(F.col("n_inter") / F.col("n_b"), 4),
            )
            >= 0.5
        )
    )
    truth = {(r.doc_a, r.doc_b) for r in truth_df.collect()}
    assert truth, "fixture corpus has no containment pairs"

    from chinook_music_database_analysis_spark.operators.dedup import (
        containment_pairs_exact,
        probe_df_cap,
    )

    # the exact inverted-file path (registered dd_containment) IS the
    # ground truth — equality, not a recall floor
    got_exact = {
        (r.doc_a, r.doc_b)
        for r in containment_pairs_exact(sh).collect()
    }
    assert got_exact == truth

    # the capped two-stage path (registered dd_containment_scale) at
    # its production default cap: bounded candidates, floored recall
    cap = probe_df_cap(docs.count())
    banded_cand = minhash_candidate_pairs(minhash_bands(sh)).cache()
    union_cand = (
        banded_cand.union(containment_probe_candidates(sh, max_df=cap))
        .distinct()
        .cache()
    )
    got_banded = {
        (r.doc_a, r.doc_b)
        for r in containment_pairs(sh, banded_cand).collect()
    }
    got_union = {
        (r.doc_a, r.doc_b)
        for r in containment_pairs(sh, union_cand).collect()
    }
    assert got_banded <= truth and got_union <= truth  # exact scores: no FPs
    recall_banded = len(got_banded & truth) / len(truth)
    recall_union = len(got_union & truth) / len(truth)
    assert recall_union >= 0.95, (recall_banded, recall_union)
    assert recall_union >= recall_banded
    for df in (sh, banded_cand, union_cand):
        df.unpersist()


def test_hot_shingle_guard_and_containment_router(spark, tmp_path, monkeypatch):
    """Hot-shingle guard (r8 semantics): (a) check_hot_shingles over
    containment_join_stats raises HotShingleCorpusError on a corpus
    whose inverted-join blowup exceeds the bound, (b) the natural test
    corpus passes the same guard, and (c) the registered
    dd_containment builder REFUSES LOUDLY on the hot corpus
    (ValueError naming dd_containment_scale — its exact-recall oracle
    must not silently serve the lower-recall capped path), while
    dd_containment_scale still runs there and dd_containment keeps
    the exact inverted-file form on the natural corpus."""
    import pytest

    from chinook_music_database_analysis_spark.operators.dedup import (
        HotShingleCorpusError,
        check_hot_shingles,
        containment_join_stats,
        doc_shingles,
    )
    from chinook_music_database_analysis_spark.plans import QUERIES
    from chinook_music_database_analysis_spark import store
    from chinook_music_database_analysis_spark.plans import extensions as ext

    hot = spark.createDataFrame(
        [
            (i, "spam ham eggs common boiler plate line " + f"u{i} v{i} w{i}")
            for i in range(400)
        ],
        "doc_id long, text string",
    )
    with pytest.raises(HotShingleCorpusError):
        check_hot_shingles(*containment_join_stats(doc_shingles(hot)))

    docs = spark.read.parquet(f"{SF_TEST_DIR}/documents.parquet")
    check_hot_shingles(*containment_join_stats(doc_shingles(docs)))  # no raise

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    handle = write_table_dir(tmp_path / "hot", {"documents": hot})
    try:
        invalidate(handle)
        with pytest.raises(ValueError, match="dd_containment_scale"):
            QUERIES["dd_containment"](spark, handle)
        # the documented escape hatch still works on the hot corpus
        assert QUERIES["dd_containment_scale"](spark, handle).count() >= 0
    finally:
        invalidate(handle)

    exact = QUERIES["dd_containment"](spark, SF_TEST_DIR)
    plan2 = exact._jdf.queryExecution().analyzed().toString()
    assert "LeftSemi" not in plan2, "natural corpus must keep the exact form"


def test_scd2_matches_python_bruteforce_on_random_streams(spark):
    """scd2_history vs a pure-Python run-length fold over seeded random
    event streams — including duplicate timestamps per user, where the
    event_id tie-break must decide both compression and versioning."""
    import random

    from chinook_music_database_analysis_spark.operators.temporal import scd2_history

    for seed in (3, 17):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for _ in range(400):
            # coarse ts grid (0..49) forces (user, ts) collisions
            rows.append(
                (rng.randrange(8), rng.choice("abc"), rng.randrange(50), eid)
            )
            eid += 1
        df = spark.createDataFrame(
            [(u, s, float(t), e) for u, s, t, e in rows],
            "user_id long, event_type string, tsec double, event_id long",
        ).selectExpr(
            "user_id", "event_type",
            "timestamp_micros(CAST(tsec * 1000000 AS BIGINT)) AS ts",
            "event_id",
        )
        got = {
            (r.user_id, r.version): (r.state, r.valid_from, r.valid_to, r.is_current)
            for r in scd2_history(df).collect()
        }
        # brute force: sort by (ts, event_id), compress runs per user
        want = {}
        byu = {}
        for u, s, t, e in rows:
            byu.setdefault(u, []).append((t, e, s))
        from datetime import datetime, timezone

        def mk(t):
            return datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None)

        for u, evs in byu.items():
            evs.sort()
            runs = []
            for t, e, s in evs:
                if not runs or runs[-1][0] != s:
                    runs.append((s, t))
            for i, (s, t) in enumerate(runs):
                nxt = mk(runs[i + 1][1]) if i + 1 < len(runs) else None
                want[(u, i + 1)] = (s, mk(t), nxt, nxt is None)
        assert got == want, seed


def test_histogram_quantiles_match_spark_percentile_on_random_groups(spark):
    """The histogram quantile read-off must equal Spark's own exact
    `percentile` (same (n-1)*p lerp) on adversarial group shapes —
    single-value groups, all-ties, two-point, and heavy-tie random
    data — to 4 dp, across several seeds."""
    import random

    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.sketch import (
        histogram_quantiles,
    )

    rows = [("single", 7)] + [("ties", 3)] * 9 + [("two", 1), ("two", 100)]
    for seed in (1, 2):
        rng = random.Random(seed)
        rows += [(f"r{seed}", rng.choice([1, 2, 3, 50, 1000])) for _ in range(200)]
    df = spark.createDataFrame(rows, "g string, n bigint")
    got = {
        r.g: (r.p50, r.p90, r.p99)
        for r in histogram_quantiles(df, "n", "g").collect()
    }
    want = {
        r.g: (round(r.a[0], 4), round(r.a[1], 4), round(r.a[2], 4))
        for r in df.groupBy("g")
        .agg(F.expr("percentile(n, array(0.5, 0.9, 0.99))").alias("a"))
        .collect()
    }
    assert got == want


def test_knn_graph_cap_is_transparent_on_small_buckets(spark):
    """When every LSH bucket's occupancy is at most window+1, the
    occupancy-capped knn graph must equal the UNCAPPED bucket
    self-join graph exactly (the cap only bites on hot buckets).  The
    reference is the pre-r8 full self-join rebuilt inline."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.similarity import (
        KNN_WINDOW,
        _cos,
        knn_graph,
        lsh_buckets,
        lsh_n_bits,
        with_norms,
    )

    emb = (
        spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") < 60)
        .cache()
    )
    bk = lsh_buckets(emb, lsh_n_bits(emb.count())).cache()
    occ = bk.groupBy("tbl", "bucket").count().agg(F.max("count")).first()[0]
    assert occ <= KNN_WINDOW + 1, (
        f"fixture bucket occupancy {occ} exceeds the window — shrink the slice"
    )
    capped = {
        (r.src_id, r.nbr_id, r.rnk)
        for r in knn_graph(bk, with_norms(emb)).collect()
    }
    # uncapped reference: the full bucket self-join the r8 cap replaced
    cand = (
        bk.alias("a")
        .join(bk.alias("b"), ["tbl", "bucket"])
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("src_id"), F.col("b.vec_id").alias("nbr_id"))
        .distinct()
    )
    wn = with_norms(emb)
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
            "src_id", "nbr_id", _cos("emb_a", "emb_b", "norm_a", "norm_b").alias("cos_sim")
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    uncapped = {
        (r.src_id, r.nbr_id, r.rnk)
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .collect()
    }
    assert capped == uncapped and capped


def test_bpe_merge_fold_is_left_to_right_bpe(spark):
    """The fold-with-string-state merge (operators.text.bpe_merge_expr)
    must reproduce BPE's left-to-right non-overlapping scan exactly —
    including the classic traps: odd runs ('aaa' + (a,a) -> [aa, a],
    never [a, aa]), even runs ('aaaa' -> [aa, aa]), created symbols
    never re-matching as the LEFT side within the same round, and
    multi-char symbols only matching WHOLE symbols (no suffix
    collisions across the separator)."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.text import (
        BPE_SEP,
        bpe_initial_seq,
        bpe_merge_expr,
    )

    def ref_merge(syms: list[str], x: str, y: str) -> list[str]:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    words = ["aaa", "aaaa", "aa", "a", "ababab", "banana", "zxy", "xyxy"]
    df = spark.createDataFrame([(w,) for w in words], ["tok"]).select(
        "tok", bpe_initial_seq(F.col("tok")).alias("seq")
    )
    for x, y in [("a", "a"), ("a", "b"), ("b", "a"), ("x", "y")]:
        got = {
            r.tok: r.m.split(BPE_SEP)
            for r in df.select(
                "tok", bpe_merge_expr(F.col("seq"), x, y).alias("m")
            ).collect()
        }
        for w in words:
            assert got[w] == ref_merge(list(w), x, y), (w, x, y, got[w])

    # second round on multi-char symbols: 'zx' + 'y' must NOT match a
    # merge of ('x', 'y') — whole-symbol boundaries only.
    two = spark.createDataFrame([("zx" + BPE_SEP + "y",)], ["seq"])
    merged = two.select(bpe_merge_expr(F.col("seq"), "x", "y").alias("m")).collect()
    assert merged[0].m == "zx" + BPE_SEP + "y"
    # ...while a real ('zx', 'y') adjacency does merge.
    merged = two.select(bpe_merge_expr(F.col("seq"), "zx", "y").alias("m")).collect()
    assert merged[0].m == "zxy"


def test_bpe_merge_fold_exhaustive_small_alphabet(spark):
    """EXHAUSTIVE check of the fold-with-string-state merge against the
    reference left-to-right scan: every word over {a, b} up to length 8
    (510 words), every single-symbol merge pair — if the fold's
    boundary guard or non-overlap rule were wrong anywhere, some word
    in this space would expose it (runs, alternations, palindromes are
    all in here)."""
    from itertools import product

    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.text import (
        BPE_SEP,
        bpe_initial_seq,
        bpe_merge_expr,
    )

    def ref_merge(syms, x, y):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    words = [
        "".join(w)
        for n in range(1, 9)
        for w in product("ab", repeat=n)
    ]
    assert len(words) == 510
    df = spark.createDataFrame([(w,) for w in words], ["tok"]).select(
        "tok", bpe_initial_seq(F.col("tok")).alias("seq")
    )
    for x, y in product("ab", repeat=2):
        got = {
            r.tok: r.m.split(BPE_SEP)
            for r in df.select(
                "tok", bpe_merge_expr(F.col("seq"), x, y).alias("m")
            ).collect()
        }
        for w in words:
            assert got[w] == ref_merge(list(w), x, y), (w, x, y, got[w])


def test_bpe_consumers_agree_on_total_subword_volume(spark):
    """tx_bpe_source_tokens (per-source rollup) and
    cur_bpe_length_buckets (per-bucket rollup) both re-tokenize the
    corpus through the same learned dictionary — their total BPE
    subword counts must be identical, and must equal the final
    corpus_syms of the training loop (tx_bpe_encode's last round),
    which computes the same number WITHOUT touching the corpus (word
    counts x per-word symbol counts)."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.plans import QUERIES

    by_source = (
        QUERIES["tx_bpe_source_tokens"](spark, SF_TEST_DIR)
        .agg(F.sum("n_bpe_tokens").alias("t"))
        .collect()[0]["t"]
    )
    by_bucket = (
        QUERIES["cur_bpe_length_buckets"](spark, SF_TEST_DIR)
        .agg(F.sum("n_bpe_tokens").alias("t"))
        .collect()[0]["t"]
    )
    final_round = (
        QUERIES["tx_bpe_encode"](spark, SF_TEST_DIR)
        .orderBy(F.col("rnd").desc())
        .limit(1)
        .collect()[0]["corpus_syms"]
    )
    assert by_source == by_bucket == final_round > 0


def test_bpe_empty_token_segments_as_one_symbol(spark):
    """Regression (r10): Spark's sequence(1, 0) DESCENDS to [1, 0], so
    an unguarded char segmentation turned the empty token into TWO
    empty symbols — fabricating a ('','') pair count the DuckDB oracle
    (ascending range(1, 1) = empty) never sees, silently skewing the
    learned merge table on any corpus with a blank document.  The
    greatest() clamp makes '' segment to exactly one empty symbol, so
    it contributes no pairs."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.text import (
        BPE_SEP,
        bpe_initial_seq,
        bpe_pair_counts,
    )

    df = spark.createDataFrame([("",), ("ab",)], ["tok"]).select(
        "tok",
        F.lit(1).cast("bigint").alias("cnt"),
        bpe_initial_seq(F.col("tok")).alias("seq"),
    )
    seqs = {r.tok: r.seq for r in df.collect()}
    assert seqs[""] == ""  # one empty symbol, not '' + SEP + ''
    assert seqs["ab"] == "a" + BPE_SEP + "b"
    pairs = {(r.x, r.y) for r in bpe_pair_counts(df).collect()}
    assert ("", "") not in pairs
    assert pairs == {("a", "b")}


def test_bpe_blank_document_corpus_matches_oracle(spark, tmp_path):
    """End-to-end parity on the exact corpus shape the r9 advice
    flagged: documents whose text is empty or whitespace-only (trim +
    split yields [''], the empty token).  All three BPE-consuming
    registered queries must still hash-match their DuckDB oracles —
    the dictionary filter (len >= 1, mirrored in the wc CTE) plus the
    segmentation clamp make the blank docs invisible to training on
    BOTH engines."""
    import duckdb

    from chinook_music_database_analysis_spark.plans import ORACLES, QUERIES

    from conftest import assert_frames_match

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [
                "the cat sat on the mat",
                "",
                "   ",
                "the dog sat on the log",
                "\t\n ",
                "cats and dogs and cats",
            ],
            "lang": ["en"] * 6,
            "source": ["web", "web", "books", "books", "web", "web"],
            "n_chars": [22, 0, 3, 22, 3, 22],
        }
    )
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    try:
        for name in (
            "tx_bpe_merges",
            "tx_bpe_encode",
            "tx_bpe_source_tokens",
            "cur_bpe_length_buckets",
        ):
            spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
            oracle_pdf = con.sql(ORACLES[name]).df()
            assert_frames_match(spark_pdf, oracle_pdf, f"{name}[blank-docs]")
            assert len(spark_pdf) > 0, name
    finally:
        con.close()
        invalidate(sf_dir)


def test_reset_memo_unpersists_bpe_fold_chain(spark):
    """invalidate promises to RELEASE executor storage, and since r10
    the BPE fold chain's persisted relations live inside a memoized
    list of tuples rather than as bare relations — the reset must walk values and
    unpersist the DataFrames it finds, not just drop the dict keys."""
    from chinook_music_database_analysis_spark.plans.scale_queries import _bpe_seqs

    seqs = _bpe_seqs(spark, SF_TEST_DIR)
    dfs = [s[4] for s in seqs]
    assert dfs and all(df.storageLevel.useMemory for df in dfs)
    try:
        invalidate(SF_TEST_DIR)
        assert all(not df.storageLevel.useMemory for df in dfs)
    finally:
        # leave the session memo in a clean state for later tests
        invalidate(SF_TEST_DIR)
