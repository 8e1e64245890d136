"""Oracle-parity gate: every registered query with an oracle must match
DuckDB exactly (row count + columns + values) — the same compare the
driver runs at sf0.01, here at sf0.001 for speed.

Tiering (r10 policy): the registry is 169 queries and the full sweep
runs ~20 min, so iteration uses a CORE tier — every SURVEY §2.12
parity target (the q*/s* cohort, the reference's own workload) plus
one representative per extension family, chosen to exercise that
family's shared machinery (signature relations, memoized scalars,
index store, BPE fold chain, streaming batch analogs).  The DEFAULT
remains the FULL registry: round-close, CI, and the judge all see
every query; set SPARK_GRAFT_TEST_TIER=core only for local loops.
"""

from __future__ import annotations

import os

import pytest

from chinook_music_database_analysis_spark.plans import ORACLES, QUERIES

from conftest import SF_TEST_DIR, assert_frames_match

#: one representative per extension family for the core tier (the
#: q*/s* parity cohort is always in core).  Each pulls the family's
#: shared relations through the full build path, so a broken helper
#: fails core even though core skips its siblings.
_CORE_EXTENSION_REPS = {
    "dd_exact",               # exact dedup
    "dd_minhash_pairs",       # MinHash+LSH candidate/verify
    "dd_simhash_pairs",       # SimHash banding
    "dd_ngram_jaccard",       # shingle inverted file
    "dd_containment",         # df-capped containment + router
    "dd_embedding_cosine",    # occupancy-capped embedding near-dup
    "dd_semantic",            # IVF-cell-bounded SemDeDup
    "sim_bruteforce_topk",    # exact ANN baseline
    "sim_ivf_topk",           # k-means IVF + index store
    "sim_pq_topk",            # PQ codebooks
    "sim_mrl_topk",           # matryoshka two-stage
    "sim_range_search",       # broadcast LSH bucket probe, radius filter
    "sim_pca_spectrum",       # distributed moment pass + eigensolve
    "tx_stats",               # text profiling
    "tx_langid",              # n-gram language id
    "tx_tfidf",               # tf-idf vocabulary join
    "tx_bm25_topk",           # postings store retrieval
    "tx_bpe_encode",          # BPE training fold chain
    "cur_sample",             # content-hash sampling
    "cur_pack",               # greedy packing
    "cur_decontam",           # cross-corpus decontamination
    "cur_leakage_safe_split", # cluster-aware split
    "ev_tumbling_1h",         # windowed events (streaming batch analog)
    "ev_sessionized",         # session windows
    "ev_hll_users",           # sketch registers
    "ev_asof_error_before_click",  # as-of join
    "mm_media_features",      # multimodal Arrow plumbing
    "mm_phash_pairs",         # perceptual-hash banding
    "pipe_training_set",      # end-to-end pipeline composition
    "dq_order_expectations",  # expectation suite
}


def _tier_names() -> list[str]:
    import re

    if os.environ.get("SPARK_GRAFT_TEST_TIER", "full").lower() != "core":
        return sorted(QUERIES)
    # parity cohort: q01_... / s15_... (digit after the letter keeps
    # sim_*/scale extension names out)
    core = {n for n in QUERIES if re.match(r"^[qs]\d", n)} | (
        _CORE_EXTENSION_REPS & set(QUERIES)
    )
    return sorted(core)


@pytest.mark.parametrize("name", _tier_names())
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_TEST_DIR)
    spark_pdf = sdf.toPandas()
    if name not in ORACLES:
        # Rows-only check for non-SQL-expressible ops (driver does the same).
        assert spark_pdf.shape[1] > 0
        return
    oracle_pdf = ddb.sql(ORACLES[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)
