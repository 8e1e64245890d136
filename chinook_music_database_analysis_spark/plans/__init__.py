"""Query registry.

Importing this package populates ``QUERIES`` (name -> callable
``(spark, sf_dir) -> DataFrame``) and ``ORACLES`` (name -> ANSI SQL for
the DuckDB correctness oracle).  ``__spark_entry__.py`` re-exports both.
"""

from .registry import ORACLES, QUERIES, register

from . import parity  # noqa: E402,F401  (registration side effects)
from . import extensions  # noqa: E402,F401
from . import curation_queries  # noqa: E402,F401
from . import scale_queries  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver-window rotation.
#
# The correctness driver oracle-checks the FIRST 50 entries of ``QUERIES``
# in iteration order.  Each round we rotate the window so that (a) every
# registry entry eventually gets a driver CORRECTNESS row, and (b) any
# query whose implementation was MUTATED this round is re-verified even if
# it was green before.  Every entry keeps its oracle; only dict iteration
# order changes.
#
# Round 13 window (50/50), per the r12 verdict's item 1 plus standing
# policy (anything mutated this round leads): (0) the five r12
# rewrites whose CURRENT code has no driver CORRECTNESS row (the
# window was rotated before the rewrites landed) plus their two
# flagged cohort-mates (sim_knn_graph, s04_scaled — r12-green but
# settled by matched-window A/B this round);
# (1) the queries MUTATED in r13: tx_tfidf / tx_surprisal now read the
# persisted BM25 postings relation, sim_bruteforce_topk / tx_hybrid_*
# the persisted norm relation, dd_ngram_jaccard routes the
# candidate-restricted shingle relation through the session memo and
# dd_containment* no longer persist it per build (persist-leak fix);
# (2) the r8-stale cohort (last green correctness row
# five rounds ago); (3) 22 of the r9-stale 40.  The r9 leftovers
# (q15/q17/q18/q20, s01-s07, s11, s13, s15, sim_ivf_topk,
# sim_filtered_ivf_topk) lead the r14 window.
# ---------------------------------------------------------------------------
_WINDOW_FIRST = [
    # (0) r12 rewrites never driver-checked in their current form:
    "ev_hll_overlap",
    "sim_label_drift",
    "tx_bpe_encode",
    "mm_phash_pairs",
    "sim_ivf_stride_topk",
    # -- their flagged cohort-mates (r13 A/B kept both rewrites):
    "sim_knn_graph",
    "s04_affinity_types_scaled",
    # (1) mutated in r13 (results identical, code path changed):
    "tx_tfidf",
    "tx_surprisal",
    "sim_bruteforce_topk",
    "tx_hybrid_batch",
    "tx_hybrid_rrf",
    "dd_ngram_jaccard",
    "dd_containment",
    "dd_containment_scale",
    # (2) the r8-stale cohort (minus entries already listed above):
    "cur_corpus_health",
    "cur_curriculum_sample",
    "cur_diverse_sample",
    "cur_domain_cap",
    "cur_epoch_batches",
    "cur_length_buckets",
    "cur_line_dedup",
    "cur_soft_quality_sample",
    "mm_phash",
    "mm_phash_clusters",
    "pipe_corpus_diff",
    "pipe_rag_index",
    "tx_cms_tokens",
    # (3) r9-stale parity cohort, alphabetical head:
    "q01_dupes",
    "q01_nulls",
    "q02_top_parts_nation0",
    "q03_demographics",
    "q03b_segment_geo",
    "q04_rev_by_geo",
    "q04b_topk_nations",
    "q04c_rollup_geo",
    "q04d_cube_geo",
    "q04e_grouping_sets",
    "q05_top5_cust_per_nation",
    "q06_top_part_per_cust",
    "q07_purchase_trends",
    "q08_churn_rate",
    "q09_type_pct_nation0",
    "q09b_top_brands_top_types",
    "q10_multi_type_cust",
    "q10b_approx_distinct",
    "q11_type_rank_nation0",
    "q12_inactive_3mo",
    "q13_no_big_order",
    "q14_rolling_90d_spend",
]


def _rotate_window(first: list[str]) -> None:
    # Unknown names are skipped at runtime; tests/test_plans.py asserts
    # the list matches the registry exactly so drift can't ship.
    first = [n for n in first if n in QUERIES]
    ordered = {n: QUERIES[n] for n in first}
    ordered.update((n, f) for n, f in QUERIES.items() if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)


_rotate_window(_WINDOW_FIRST)

# r14 NOTE (recomputed from CORRECTNESS_r{1..12}.json at r13 open —
# rows_match+schema_match+hash_match all true, no err; max round per
# name; rerun that scan once CORRECTNESS_r13 lands rather than
# trusting this list): after this window runs, the stale cohorts are
#   r9 (17 left): q15_spend_distribution, q17_top_spender_maxby,
#     q18_price_profile_arrays, q20_stats_profile, s01..s07, s11,
#     s13_zorder_locality, s15_skew_salted, sim_ivf_topk,
#     sim_filtered_ivf_topk
#   r10 (24), r11 (38): everything else.
# r14 should lead with anything r14 mutates, then the r9 17, then as
# much of the r10 24 as fits.

__all__ = ["QUERIES", "ORACLES", "register"]
