"""Extension queries: dedup, similarity search, text analysis,
multimodal plumbing, and batch-equivalents of the streaming ops.

These are the training-data-pipeline operators mandated by the north
star (SURVEY.md §2.11/BASELINE.json): each one is registered exactly
like a parity query — Spark builder + DuckDB oracle — so the driver's
hash gate covers them too.  The oracle SQL mirrors the Spark logic
construct-for-construct (same hash = md5, same index-ordered float
accumulation, same rounding), which is what makes exact comparison
possible.

Implementations live in operators/; this module is the registry glue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    BANDS,
    CONTAINMENT_THRESHOLD,
    JACCARD_THRESHOLD,
    N_HASHES,
    PROBE_DF_CAP_FRAC,
    PROBE_DF_CAP_MIN,
    PROBE_K,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
    doc_shingles,
    duplicate_clusters,
    exact_dedup,
    minhash_bands,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)
from ..operators.multimodal import (
    FRAME_BYTES,
    FRAME_EVERY_N,
    media_features,
    resize_media,
    sample_frames,
)
from ..operators.similarity import (
    IVF_N_PROBE,
    KMEANS_ITERS,
    MAX_PLANES,
    N_QUERIES,
    N_TABLES,
    NEAR_DUP_COS,
    TOP_K,
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)
from ..operators.pipeline import MIN_QUALITY, MIN_TOKENS, clean_corpus
from ..operators.text import (
    LANG_STOPWORDS,
    SHINGLE_K,
    SURPRISAL_SCALE,
    fingerprint,
    lang_id,
    text_stats,
)
from ..functions import money_sum, round2
from ..cache import memo
from ..sources import load_tables
from ..store import persisted
from ..store import STORE_EVENTS  # noqa: F401  perfbench/run.py imports it from here
from .registry import register


def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    """Corpus size for ANN parameter derivation, counted once per
    (session, table set) — the stats-collection analog."""
    return memo(
        "emb_count", spark, sf_dir,
        lambda: load_tables(spark, sf_dir)["embeddings"].count(),
    )


def _emb_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared multi-table LSH bucket relation — on-disk index store
    entry (the vector-side signature table; N_TABLES * MAX_PLANES sign
    projections per vector are the dominant cost of the LSH family's
    cold path)."""
    from ..operators.similarity import lsh_buckets, lsh_n_bits

    return persisted(
        "emb_buckets", spark, sf_dir,
        lambda: lsh_buckets(
            load_tables(spark, sf_dir)["embeddings"],
            lsh_n_bits(_emb_count(spark, sf_dir)),
        ),
        params=f"tables={N_TABLES},max_planes={MAX_PLANES}",
    )


def _emb_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-vector L2 norms — on-disk index store entry (used by
    every pair scoring stage)."""
    from ..operators.similarity import with_norms

    return persisted(
        "emb_norms", spark, sf_dir,
        lambda: with_norms(load_tables(spark, sf_dir)["embeddings"]),
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) relation — the text-side signature
    table, served from the on-disk index store like the ANN relations
    (tokenize + explode of the whole corpus, paid once per corpus
    version)."""
    return persisted(
        "doc_shingles", spark, sf_dir,
        lambda: doc_shingles(load_tables(spark, sf_dir)["documents"]),
        table="documents",
        params=f"k={SHINGLE_K}",
    )


def _bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band relation — on-disk index store entry (the N_HASHES
    md5 min-aggregations over the shingle relation are the dominant
    cost of the MinHash family's cold path)."""
    return persisted(
        "minhash_bands", spark, sf_dir,
        lambda: minhash_bands(_shingles(spark, sf_dir)),
        table="documents",
        params=f"k={SHINGLE_K},h={N_HASHES},b={BANDS}",
    )


def _dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component cluster relation over the MinHash candidate
    graph — on-disk index store entry: the pointer-jumping rounds (an
    iterative multi-job build) run once per corpus version; consumers
    (dd_dup_clusters, dd_canonical) read the tiny (doc_id, cluster_id)
    result."""
    return persisted(
        "dup_clusters", spark, sf_dir,
        lambda: duplicate_clusters(_cand_pairs(spark, sf_dir)),
        table="documents",
        params=f"k={SHINGLE_K},h={N_HASHES},b={BANDS}",
    )


def _cand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared MinHash-LSH candidate pair relation — referenced several
    times by the verify/cluster stages, so cached like the bands."""
    return memo(
        "cand_pairs", spark, sf_dir,
        lambda: minhash_candidate_pairs(_bands(spark, sf_dir)),
        persist=True,
    )


def _ngram_sh_cand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-restricted shingle relation for the MinHash-LSH
    verify stages — session-cached (r13): the r12 form persisted this
    inside operators.dedup per BUILD, which leaked executor storage
    (every execution pinned a new relation no reset path could
    release).  One memoized instance per (session, corpus) serves all
    three downstream references and every bench rep, and
    ``cache.invalidate`` releases it with the other cached relations."""
    from ..operators.dedup import candidate_restricted_shingles

    return memo(
        "ngram_sh_cand", spark, sf_dir,
        lambda: candidate_restricted_shingles(
            _shingles(spark, sf_dir), _cand_pairs(spark, sf_dir)
        ),
        persist=True,
    )


def _simhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash signatures — on-disk index store entry (the
    word x 48-bit vote tally is the family's dominant cold cost)."""
    return persisted(
        "simhash", spark, sf_dir,
        lambda: simhash(load_tables(spark, sf_dir)["documents"]),
        table="documents",
        params=f"bits={SIMHASH_BITS}",
    )


def _simhash_nib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (doc_id, simhash, band, nib) relation — session-cached on
    top of the stored signatures so the pair self-join and the
    cross-corpus probe scan the pre-exploded form instead of each
    re-deriving the four 12-bit blocks per branch."""
    from ..operators.dedup import _simhash_nibbles

    return memo(
        "simhash_nib", spark, sf_dir,
        lambda: _simhash_nibbles(_simhash_sig(spark, sf_dir)),
        persist=True,
    )


# ---------------------------------------------------------------------------
# Shared oracle fragments (mirror operators/text.py + dedup.py)
# ---------------------------------------------------------------------------

#: distinct (doc_id, shingle) pairs — word 3-grams (DuckDB list slice
#: toks[i:i+k-1] is 1-based inclusive = Spark slice(toks, i, k)).
#: NULL text is filtered: a null-text doc has NO shingles (the
#: operators' shingles_from_tokens contract) — without the filter,
#: DuckDB's greatest() skips the NULL len and the comprehension
#: manufactures one NULL "shingle" row per null doc, which survives
#: doc-grouped reports even though every shingle JOIN drops it
#: (fuzz gate NULL corpus, r12).
_SQL_SHINGLES = f"""
  sh AS (
    SELECT DISTINCT doc_id,
           unnest([array_to_string(toks[i:i+{SHINGLE_K - 1}], ' ')
                   for i in range(1, greatest(len(toks) - {SHINGLE_K - 1}, 1) + 1)]) AS s
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM documents WHERE text IS NOT NULL)
  )
""".strip()

_SQL_SIG = (
    "sig AS (SELECT doc_id, "
    + ", ".join(f"min(md5('{h}|' || s)) AS h{h}" for h in range(N_HASHES))
    + " FROM sh GROUP BY doc_id)"
)

_SQL_BANDS = (
    "bands AS (SELECT doc_id, unnest(["
    + ", ".join(
        "||".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        for b in range(BANDS)
    )
    + "]) AS band_sig, unnest(["
    + ", ".join(str(b) for b in range(BANDS))
    + "]) AS band_id FROM sig)"
)

_SQL_CAND = """
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                AND a.doc_id < b.doc_id
  )
""".strip()


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_SW_EN = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


@register(
    "tx_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_subtokens,
           ROUND(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE), 4) AS avg_token_len,
           ROUND(CAST(len(list_filter(toks, t -> t IN ({_SW_EN}))) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE), 4) AS stopword_ratio,
           ROUND(LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                 * (0.5 + CAST(len(list_filter(toks, t -> t IN ({_SW_EN}))) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE)), 4) AS quality_score
    FROM d
    """,
)
def tx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring over documents (operators.text)."""
    return text_stats(load_tables(spark, sf_dir)["documents"])


def _sql_lang_counts() -> str:
    """Per-language stopword-hit count columns (c_en, c_de, ...) —
    the ONE fragment tx_langid and pipe_clean_corpus both embed (r11:
    the two carried verbatim copies, so a language-list edit could
    silently diverge their pred_lang)."""
    return ", ".join(
        "len(list_filter(toks, t -> t IN ({}))) AS c_{}".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in LANG_STOPWORDS.items()
    )


#: argmax-with-fixed-priority language pick over the c_* count columns
#: (en > de > es > fr > zh) — mirrors operators.text.lang_pred_expr;
#: shared by the same two oracles as :func:`_sql_lang_counts`.
_SQL_PRED_LANG = """
           CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
                WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
                WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
                WHEN c_fr >= c_zh THEN 'fr'
                ELSE 'zh' END AS pred_lang
""".strip()


def _sql_langid() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), scored AS (SELECT doc_id, lang, {_sql_lang_counts()} FROM d)
    SELECT doc_id, lang,
           {_SQL_PRED_LANG}
    FROM scored
    """


@register("tx_langid", oracle=_sql_langid())
def tx_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (function-word overlap, deterministic
    argmax)."""
    return lang_id(load_tables(spark, sf_dir)["documents"])


def _sql_lang_confusion() -> str:
    return f"""
    WITH pred AS ({_sql_langid()})
    SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST((COUNT(*) * 10000) // SUM(COUNT(*)) OVER (PARTITION BY lang)
                AS BIGINT) AS row_pct_q
    FROM pred GROUP BY lang, pred_lang
    """


@register("tx_lang_confusion", oracle=_sql_lang_confusion())
def tx_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality audit: the confusion matrix of declared vs
    predicted language, with each cell's share of its declared-language
    row (1e4 fixed point) — the standard audit for any classifier
    feeding a filter (where is the heuristic systematically wrong, and
    how much of each language would a pred-based filter misroute).
    One scan + one tiny (|langs|^2-row) aggregate; the row share is a
    window over that tiny relation, not the corpus."""
    from pyspark.sql import Window

    from ..operators.text import lang_id

    pred = lang_id(load_tables(spark, sf_dir)["documents"])
    g = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return g.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.expr("n_docs * 10000").cast("bigint").alias("_num"),
        F.sum("n_docs").over(w).alias("_den"),
    ).select(
        "lang",
        "pred_lang",
        "n_docs",
        F.expr("_num div _den").alias("row_pct_q"),
    )


@register(
    "tx_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS content_hash,
           list_aggregate([md5(array_to_string(toks[i:i+{SHINGLE_K - 1}], ' '))
                           for i in range(1, greatest(len(toks) - {SHINGLE_K - 1}, 1) + 1)],
                          'min') AS min_shingle_sig
    FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    """,
)
def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content hash + min-shingle signature per document."""
    return fingerprint(load_tables(spark, sf_dir)["documents"])


def _sql_gopher() -> str:
    from ..operators.text import (
        GOPHER_AVG_LEN_MAX_Q,
        GOPHER_AVG_LEN_MIN_Q,
        GOPHER_MAX_TOKENS,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_TOKENS,
        GOPHER_MIN_UNIQUE_Q,
    )

    return f"""
    WITH d AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) * 10000)
               // len(toks) AS avg_len_q,
             (CAST(len(list_distinct(toks)) AS BIGINT) * 10000)
               // len(toks) AS unique_q,
             len(list_filter(toks, t -> t IN ({_SW_EN}))) AS sw_hits
      FROM d
    )
    SELECT doc_id, n_tokens, avg_len_q, unique_q, sw_hits,
           COALESCE(n_tokens BETWEEN {GOPHER_MIN_TOKENS}
                    AND {GOPHER_MAX_TOKENS}, FALSE) AS r_len,
           COALESCE(avg_len_q BETWEEN {GOPHER_AVG_LEN_MIN_Q}
                    AND {GOPHER_AVG_LEN_MAX_Q}, FALSE) AS r_avg_len,
           COALESCE(unique_q >= {GOPHER_MIN_UNIQUE_Q}, FALSE) AS r_unique,
           COALESCE(sw_hits >= {GOPHER_MIN_STOP_HITS}, FALSE) AS r_stopwords,
           COALESCE((n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS})
             AND (avg_len_q BETWEEN {GOPHER_AVG_LEN_MIN_Q} AND {GOPHER_AVG_LEN_MAX_Q})
             AND unique_q >= {GOPHER_MIN_UNIQUE_Q}
             AND sw_hits >= {GOPHER_MIN_STOP_HITS}, FALSE) AS keep
    FROM s
    """


@register("tx_gopher_quality", oracle=_sql_gopher())
def tx_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-chain quality filter: per-rule booleans +
    conjunctive keep verdict, all comparisons in 1e4 fixed point
    (operators.text.gopher_quality)."""
    from ..operators.text import gopher_quality

    return gopher_quality(load_tables(spark, sf_dir)["documents"])


def _sql_quality_classifier() -> str:
    from ..operators.text import (
        QC_LEN_CAP,
        QC_LEN_SCALE,
        QC_T_HIGH,
        QC_T_MID,
        QC_W_LEN,
        QC_W_STOP,
        QC_W_UNIQUE,
    )

    score = (
        f"({QC_W_UNIQUE} * unique_q + {QC_W_STOP} * stop_q + {QC_W_LEN} * len_q) // 10"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), s AS (
      SELECT doc_id, len(toks) AS n_tokens,
             (CAST(len(list_distinct(toks)) AS BIGINT) * 10000) // len(toks) AS unique_q,
             (CAST(len(list_filter(toks, t -> t IN ({_SW_EN}))) AS BIGINT) * 10000)
               // len(toks) AS stop_q,
             CAST(least(len(toks), {QC_LEN_CAP}) AS BIGINT) * {QC_LEN_SCALE} AS len_q
      FROM d
    )
    SELECT doc_id, n_tokens, unique_q, stop_q, len_q,
           {score} AS score_q,
           CASE WHEN {score} >= {QC_T_HIGH} THEN 'high'
                WHEN {score} >= {QC_T_MID} THEN 'mid'
                ELSE 'low' END AS tier
    FROM s
    """


@register("tx_quality_classifier", oracle=_sql_quality_classifier())
def tx_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight integer quality classifier with curriculum tiers
    (operators.text.quality_classifier): the CCNet-style linear scorer
    + high/mid/low bucketing a mixing pipeline samples against.  Pure
    narrow map, exact fixed-point score on both engines."""
    from ..operators.text import quality_classifier

    return quality_classifier(load_tables(spark, sf_dir)["documents"])


#: Curriculum keep-rates per tier: all high-quality docs, half of mid,
#: a tenth of low — the quality-weighted corpus mix a pretraining run
#: feeds the tokenizer.
CURR_MID_PCT = 50.0
CURR_LOW_PCT = 10.0


def _sql_curriculum() -> str:
    from ..operators.curation import pct_threshold

    h = "substr(md5('curr|' || CAST(doc_id AS VARCHAR)), 1, 4)"
    return f"""
    WITH qc AS ({_sql_quality_classifier()})
    SELECT doc_id, tier FROM qc
    WHERE CASE WHEN tier = 'high' THEN TRUE
               WHEN tier = 'mid' THEN {h} < '{pct_threshold(CURR_MID_PCT)}'
               ELSE {h} < '{pct_threshold(CURR_LOW_PCT)}' END
    """


@register("cur_curriculum_sample", oracle=_sql_curriculum())
def cur_curriculum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum sampling: classify every document
    (tx_quality_classifier's scorer), then keep 100% of 'high', ~50%
    of 'mid', ~10% of 'low' by content-addressed md5 draw — the
    classifier-weighted corpus mix.  Membership is a pure function of
    doc_id (stable under appends/re-runs, like cur_sample), and the
    whole pipeline is ONE zero-shuffle codegen stage: classifier
    signals, tier, and the keep decision all fuse into the scan."""
    from ..operators.curation import _hash_bucket, pct_threshold
    from ..operators.text import quality_classifier

    qc = quality_classifier(load_tables(spark, sf_dir)["documents"]).select(
        "doc_id", "tier"
    )
    b = _hash_bucket(F.col("doc_id"), "curr")
    keep = (
        F.when(F.col("tier") == "high", F.lit(True))
        .when(F.col("tier") == "mid", b < F.lit(pct_threshold(CURR_MID_PCT)))
        .otherwise(b < F.lit(pct_threshold(CURR_LOW_PCT)))
    )
    return qc.filter(keep)


def _sql_clean_corpus() -> str:
    counts = _sql_lang_counts()
    return f"""
    WITH d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS content_hash,
             string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, content_hash,
             len(toks) AS n_tokens,
             ROUND(LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                   * (0.5 + CAST(len(list_filter(toks, t -> t IN ({_SW_EN}))) AS DOUBLE)
                          / CAST(len(toks) AS DOUBLE)), 4) AS quality_score,
             {counts},
             MIN(doc_id) OVER (PARTITION BY content_hash) AS rep_doc_id
      FROM d
    )
    SELECT doc_id,
           {_SQL_PRED_LANG},
           n_tokens, quality_score
    FROM s
    WHERE doc_id = rep_doc_id
      AND n_tokens >= {MIN_TOKENS} AND quality_score >= {MIN_QUALITY}
    """


@register("pipe_clean_corpus", oracle=_sql_clean_corpus())
def pipe_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus prep: exact-dedup -> quality filter ->
    language tag, fused to one scan + one shuffle
    (operators.pipeline.clean_corpus)."""
    return clean_corpus(load_tables(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dd_exact",
    oracle="""
    SELECT md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS rep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content."""
    return exact_dedup(load_tables(spark, sf_dir)["documents"])


@register(
    "dd_minhash_pairs",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND}
    SELECT doc_a, doc_b FROM cand
    """,
)
def dd_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (BANDS bands of
    ROWS_PER_BAND rows each — see the module constants).  NB a plain
    string literal: the old ``\"\"\"...\"\"\".format(...)`` form was an
    EXPRESSION, so __doc__ was silently None (r11 review)."""
    return _cand_pairs(spark, sf_dir)


@register(
    "dd_containment",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh sa JOIN sh sb ON sb.s = sa.s AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, c_a_in_b, c_b_in_a,
           GREATEST(c_a_in_b, c_b_in_a) AS containment
    FROM (
      SELECT i.doc_a, i.doc_b,
             ROUND(CAST(n_inter AS DOUBLE) / CAST(na.n AS DOUBLE), 4) AS c_a_in_b,
             ROUND(CAST(n_inter AS DOUBLE) / CAST(nb.n AS DOUBLE), 4) AS c_b_in_a
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
    )
    WHERE GREATEST(c_a_in_b, c_b_in_a) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (Broder's second resemblance
    measure) — the snippet/quote detector symmetric Jaccard misses.
    EXACT inverted-file self-join (operators.dedup.
    containment_pairs_exact): recall 1.0 by construction, sum(df^2)
    join rows — linear in corpus size for df-bounded shingles, and
    measured CHEAPER at sf0.1 than scoring the loose probe candidate
    set it replaces (1.1 s vs 2.9 s warm; the candidate path also
    missed a containment-1.0 near-duplicate whose shared shingles were
    all common).  dd_containment_scale keeps the capped two-stage path
    for corpora with unremoved ultra-hot shingles.  Served from the
    persisted shingle relation.

    Hot-shingle guard (r8 semantics): a memoized df-histogram stats
    pass (operators.dedup.containment_join_stats — the exact join-row
    count, two hash-aggs) runs first, and when join_rows exceeds
    HOT_JOIN_FACTOR x shingle_rows the builder REFUSES loudly
    (operators.dedup.check_hot_shingles raises HotShingleCorpusError,
    a ValueError directing callers to dd_containment_scale) instead of
    silently swapping in the lower-recall df-capped path — this entry's
    contract is recall 1.0, and a hot corpus must not quietly change
    the query's semantics (the capped result would fail this oracle
    anyway).  Driver corpora (ratio 0.5-4.9 measured) never trip the
    guard, so the registered form stays exact and the oracle is
    unchanged."""
    from ..operators.dedup import (
        HOT_JOIN_FACTOR,
        check_hot_shingles,
        containment_pairs_exact,
    )

    sh = _shingles(spark, sf_dir)
    check_hot_shingles(*_containment_join_stats(spark, sf_dir))

    def build() -> DataFrame:
        return containment_pairs_exact(sh)

    # The pair table is a deterministic corpus artifact — exactly what
    # a production dedup deployment versions beside the corpus (the
    # dup_clusters / brand_pagerank pattern), so it is store-served;
    # the oracle recomputes from the live corpus unconditionally, so a
    # stale or wrong store would fail the hash gate, not hide.
    return persisted(
        "containment_pairs", spark, sf_dir, build, table="documents",
        params=f"k={SHINGLE_K},thr={CONTAINMENT_THRESHOLD},factor={HOT_JOIN_FACTOR}",
    )


def _containment_join_stats(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """Memoized (shingle_rows, join_rows) stats scalar for the
    containment router — the df-histogram aggregation runs once per
    CORPUS VERSION (1-row relation in the index store, the ANALYZE
    statistics pattern) and once per session thereafter it is a tiny
    parquet read."""
    from ..operators.dedup import containment_join_stats

    def stats() -> tuple[int, int]:
        row = persisted(
            "containment_stats", spark, sf_dir,
            lambda: spark.createDataFrame(
                [containment_join_stats(_shingles(spark, sf_dir))],
                "n_rows long, join_rows long",
            ),
            table="documents",
            params=f"k={SHINGLE_K}",
        ).collect()[0]
        return (int(row["n_rows"]), int(row["join_rows"]))

    return memo("containment_join_stats", spark, sf_dir, stats)


@register(
    "dd_containment_scale",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND},
    dfcap AS (
      SELECT GREATEST({PROBE_DF_CAP_MIN},
                      CAST(CEIL({PROBE_DF_CAP_FRAC} *
                           (SELECT COUNT(*) FROM documents)) AS BIGINT)) AS cap
    ),
    hot AS (
      SELECT s FROM sh GROUP BY s
      HAVING COUNT(*) > (SELECT cap FROM dfcap)
    ),
    cold AS (SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)),
    probe AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s,
               row_number() OVER (PARTITION BY doc_id ORDER BY md5(s)) AS rn
        FROM sh
      ) WHERE rn <= {PROBE_K}
    ),
    cand_probe AS (
      SELECT DISTINCT LEAST(p.doc_id, h.doc_id) AS doc_a,
                      GREATEST(p.doc_id, h.doc_id) AS doc_b
      FROM probe p JOIN cold h ON h.s = p.s AND h.doc_id <> p.doc_id
    ),
    candu AS (
      SELECT doc_a, doc_b FROM cand
      UNION
      SELECT doc_a, doc_b FROM cand_probe
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM candu c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, c_a_in_b, c_b_in_a,
           GREATEST(c_a_in_b, c_b_in_a) AS containment
    FROM (
      SELECT i.doc_a, i.doc_b,
             ROUND(CAST(n_inter AS DOUBLE) / CAST(na.n AS DOUBLE), 4) AS c_a_in_b,
             ROUND(CAST(n_inter AS DOUBLE) / CAST(nb.n AS DOUBLE), 4) AS c_b_in_a
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
    )
    WHERE GREATEST(c_a_in_b, c_b_in_a) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dd_containment_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adversarial-scale containment path: two-stage candidate /
    exact-verify with a corpus-stat-derived document-frequency cap on
    the probe's inverted-file side (operators.dedup.probe_df_cap —
    the r5 review's unbounded-fan-out fix).  Candidate generation is
    bounded at cap x |probes| memberships regardless of how hot any
    single shingle runs; scores stay exact on every proposed pair
    (over the FULL shingle sets), so the only recall cost vs
    dd_containment is pairs whose every shared shingle is hotter than
    the cap — measured and floor-asserted in test_properties."""
    from ..operators.dedup import (
        PROBE_DF_CAP_FRAC,
        PROBE_DF_CAP_MIN,
        containment_pairs,
    )

    # Store-served like dd_containment: the capped-path pair table is
    # the same corpus-versioned dedup artifact, built from the
    # persisted candidate spine.
    return persisted(
        "containment_pairs_capped", spark, sf_dir,
        lambda: containment_pairs(
            _shingles(spark, sf_dir), _containment_cand(spark, sf_dir)
        ),
        table="documents",
        params=(
            f"k={SHINGLE_K},thr={CONTAINMENT_THRESHOLD},probe_k={PROBE_K},"
            f"cap_min={PROBE_DF_CAP_MIN},cap_frac={PROBE_DF_CAP_FRAC},"
            f"h={N_HASHES},b={BANDS}"
        ),
    )


def _containment_cand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of LSH-banded and df-capped bottom-k-probe candidate
    pairs — on-disk index store entry (the probe's per-doc bottom-k
    window plus the df-count semi-filter over the whole shingle
    relation are the scale path's dominant cold cost; the resulting
    pair spine is tiny and corpus-versioned like the bands).
    containment_pairs references the spine three times (two
    semi-filters + the intersection join)."""
    from ..operators.dedup import containment_probe_candidates, probe_df_cap

    def build() -> DataFrame:
        from .curation_queries import _doc_count

        cap = probe_df_cap(_doc_count(spark, sf_dir))
        return (
            _cand_pairs(spark, sf_dir)
            .union(
                containment_probe_candidates(_shingles(spark, sf_dir), max_df=cap)
            )
            .distinct()
        )

    from ..operators.dedup import PROBE_DF_CAP_FRAC, PROBE_DF_CAP_MIN

    return persisted(
        "containment_cand", spark, sf_dir, build, table="documents",
        params=(
            f"k={SHINGLE_K},h={N_HASHES},b={BANDS},probe_k={PROBE_K},"
            f"cap_min={PROBE_DF_CAP_MIN},cap_frac={PROBE_DF_CAP_FRAC}"
        ),
    )


@register(
    "dd_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(n_inter AS DOUBLE)
                 / CAST(na.n + nb.n - n_inter AS DOUBLE), 4) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / CAST(na.n + nb.n - n_inter AS DOUBLE), 4) >= {JACCARD_THRESHOLD}
    """,
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification over the LSH candidate pairs."""
    return ngram_jaccard_pairs(
        _cand_pairs(spark, sf_dir), _ngram_sh_cand(spark, sf_dir)
    )


@register(
    "dd_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND},
    e AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    walk(doc_id, lbl) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.src, w.lbl FROM walk w JOIN e ON e.dst = w.doc_id
    )
    SELECT doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY doc_id
    """,
)
def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the LSH near-dup
    pair graph (pointer-jumping min-label propagation).  The oracle is
    a recursive-CTE transitive closure: min reachable doc_id ==
    component min label, so the hash compare covers the iterative
    fixpoint too."""
    return _dup_clusters(spark, sf_dir)


_SQL_SIMHASH_CTES = f"""
    w AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ), bits AS (
      SELECT doc_id, b.j,
             SUM(CASE WHEN ((strpos('0123456789abcdef',
                                    substring(md5(w.w), CAST(b.j // 4 AS INTEGER) + 1, 1)) - 1)
                            >> CAST(b.j % 4 AS INTEGER)) & 1 = 1
                      THEN 1 ELSE -1 END) AS score
      FROM w, (SELECT unnest(range(0, {SIMHASH_BITS})) AS j) b
      GROUP BY doc_id, b.j
    ), sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
""".strip()


@register("dd_simhash", oracle=f"WITH {_SQL_SIMHASH_CTES} SELECT * FROM sig")
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signature per document (word-vote bit tally)."""
    return _simhash_sig(spark, sf_dir)


@register(
    "dd_simhash_pairs",
    oracle=f"""
    WITH {_SQL_SIMHASH_CTES},
    nib AS (
      SELECT doc_id, simhash, b.band, (simhash >> CAST(b.band * 12 AS INTEGER)) & 4095 AS nib
      FROM sig, (SELECT unnest(range(0, 4)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM nib a
      JOIN nib b ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT * FROM cand WHERE hamming <= {SIMHASH_MAX_HAMMING}
    """,
)
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) with block-band candidate
    bounding (pigeonhole over the four 12-bit blocks)."""
    return simhash_near_dup_pairs(_simhash_nib(spark, sf_dir))


def _register_dd_cross_simhash() -> None:
    from ..operators.curation import pct_threshold

    thr = pct_threshold(5.0)
    oracle = f"""
    WITH {_SQL_SIMHASH_CTES},
    bm AS (
      SELECT doc_id,
             substr(md5('bench|' || CAST(doc_id AS VARCHAR)), 1, 4) < '{thr}'
               AS is_bench
      FROM documents
    ),
    nib AS (
      SELECT doc_id, simhash, bd.band,
             (simhash >> CAST(bd.band * 12 AS INTEGER)) & 4095 AS nib
      FROM sig, (SELECT unnest(range(0, 4)) AS band) bd
    ),
    cand AS (
      SELECT DISTINCT a.doc_id, r.doc_id AS ref_id,
             CAST(bit_count(xor(a.simhash, r.simhash)) AS INTEGER) AS hamming
      FROM nib a
      JOIN bm ba ON ba.doc_id = a.doc_id
      JOIN nib r ON r.band = a.band AND r.nib = a.nib
      JOIN bm br ON br.doc_id = r.doc_id
      WHERE NOT ba.is_bench AND br.is_bench
    )
    SELECT doc_id, COUNT(*) AS n_ref_dups, MIN(hamming) AS min_hamming
    FROM cand WHERE hamming <= {SIMHASH_MAX_HAMMING} GROUP BY doc_id
    """

    @register("dd_cross_simhash", oracle=oracle)
    def dd_cross_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Cross-corpus near-dup decontamination: training docs whose
        SimHash lies within hamming 3 of any held-out benchmark doc
        (the deterministic 5% hash-sample standing in for an external
        eval set) — catches the paraphrased/lightly-edited benchmark
        leaks exact 8-gram decontam (cur_decontam) misses.  The
        benchmark side is broadcast; the corpus signature relation is
        the shared cached simhash table
        (operators.dedup.simhash_cross_matches)."""
        from ..operators.curation import _hash_bucket
        from ..operators.dedup import simhash_cross_matches

        docs = load_tables(spark, sf_dir)["documents"]
        refs = docs.filter(
            _hash_bucket(F.col("doc_id"), "bench") < F.lit(thr)
        ).select("doc_id")
        return simhash_cross_matches(_simhash_nib(spark, sf_dir), refs)


_register_dd_cross_simhash()


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def _sql_cos(a: str, b: str) -> str:
    """Rounded cosine of two list columns, accumulating in index order
    (mirrors operators.similarity._dot)."""

    def dot(x: str, y: str) -> str:
        return (
            f"list_sum(list_transform(range(1, len({x}) + 1),"
            f" i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE))"
        )

    return f"ROUND({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)"


_SQL_COS = _sql_cos("q.qe", "e.embedding")


@register(
    "sim_bruteforce_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
    ), p AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for queries vec_id < 10.  Norms
    come from the persisted per-vector norm store (r13, guide §2.4):
    the stored doubles are the output of the SAME fold expression over
    the same corpus, so scores are bit-identical while each execution
    skips the N per-vector norm folds."""
    return cosine_topk(
        load_tables(spark, sf_dir)["embeddings"],
        norms=_emb_norms(spark, sf_dir),
    )


@register(
    "sim_filtered_topk",
    oracle=f"""
    WITH allowed AS (
      SELECT e.vec_id, e.embedding
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      WHERE d.lang = 'en'
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
    ), p AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
      FROM allowed e, q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """,
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, pre-filter strategy: exact cosine top-5
    among ONLY the embeddings whose document satisfies the metadata
    predicate (lang = 'en') — the allowed set prunes BEFORE scoring via
    a doc_id semi-join, so recall over the filtered corpus is exact by
    construction; a post-filter over an unfiltered top-k can return
    fewer than k (or zero) survivors.  At 100 TB the predicate pushes
    into the documents scan, the semi-join is one linear shuffle (or a
    broadcast when the allowed side is small), and scoring cost is
    |queries| x |allowed|, not |queries| x |corpus|."""
    from ..operators.similarity import cosine_topk

    t = load_tables(spark, sf_dir)
    allowed_ids = (
        t["documents"].filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    corpus = t["embeddings"].join(allowed_ids, "vec_id", "left_semi")
    return cosine_topk(t["embeddings"], corpus=corpus)


def _register_sim_mrl_topk() -> None:
    from ..operators.similarity import (
        MRL_DIM,
        MRL_SHORTLIST,
        MRL_SHORTLIST_SQRT_MULT,
    )

    oracle = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe, embedding[1:{MRL_DIM}] AS qp
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ), c AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cos("q.qp", "e.ep")} AS pre_sim
      FROM (SELECT vec_id, embedding[1:{MRL_DIM}] AS ep FROM embeddings) e, q
      WHERE e.vec_id <> q.query_id
    ), sl AS (
      SELECT query_id, neighbor_id FROM c
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY pre_sim DESC, neighbor_id
      ) <= GREATEST({MRL_SHORTLIST},
                    {MRL_SHORTLIST_SQRT_MULT} * CAST(ceil(sqrt(
                      (SELECT COUNT(*) FROM embeddings))) AS BIGINT))
    ), p AS (
      SELECT sl.query_id, sl.neighbor_id, {_sql_cos("q.qe", "e.embedding")} AS cos_sim
      FROM sl JOIN embeddings e ON e.vec_id = sl.neighbor_id
              JOIN q ON q.query_id = sl.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """

    @register("sim_mrl_topk", oracle=oracle)
    def sim_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Matryoshka two-stage retrieval (operators/similarity.
        mrl_topk): coarse cosine over the first 32 of 64 dimensions
        keeps max(100, 2*ceil(sqrt(N))) candidates per query (the
        sqrt-scaled depth — a FIXED shortlist dilutes as the corpus
        grows: 0.76 at 20k vs 0.92 with 2*sqrt(N)=284; at driver
        scales the 100 floor dominates, so results are byte-stable),
        then the full vector re-ranks only those — the
        zero-maintenance ANN path for MRL-trained embeddings (no
        k-means, no codebook; contrast sim_ivf_topk / sim_pq_topk).
        At 100 TB the corpus-wide pass reads half the vector bytes
        (the prefix stored as its own column prunes at the scan) and
        full vectors surface for |q| x O(sqrt(N)) rows via a
        broadcast shortlist join.  Measured recall@5 vs the exact
        scan: 0.92 / 0.96 at sf0.001 / sf0.01."""
        from ..operators.similarity import mrl_topk

        return mrl_topk(
            load_tables(spark, sf_dir)["embeddings"],
            n_corpus=_emb_count(spark, sf_dir),
        )


_register_sim_mrl_topk()


def _sql_kmeans_cents() -> str:
    """DuckDB mirror of operators.similarity.kmeans_centroids: the
    fixed KMEANS_ITERS Lloyd iterations unrolled as CTE stages (same
    modulo sample/seed selection, same rounded-cosine assignment with
    cell_id tie-break, same order-independent DECIMAL(28,12) means).
    Yields a CTE chain whose final relation ``kc{KMEANS_ITERS}`` is
    (cell_id, ce DOUBLE[]).
    """
    from ..operators.similarity import EMB_DIM, KMEANS_C, KMEANS_ITERS

    parts = [
        f"""kprm AS (
      SELECT GREATEST(1, COUNT(*) // ({KMEANS_C} * CAST(ceil(sqrt(COUNT(*))) AS BIGINT))) AS ss
      FROM embeddings
    ), ksmp AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS se
      FROM embeddings WHERE vec_id % (SELECT ss FROM kprm) = 0
    ), kc0 AS (
      SELECT vec_id AS cell_id, se AS ce FROM ksmp
      WHERE vec_id % (SELECT ss * {KMEANS_C} FROM kprm) = 0
    )"""
    ]
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(
            f"""ka{it} AS (
      SELECT s.vec_id, s.se, c.cell_id,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id
               ORDER BY {_sql_cos("s.se", "c.ce")} DESC, c.cell_id) AS rn
      FROM ksmp s, kc{it - 1} c QUALIFY rn = 1
    ), km{it} AS (
      SELECT cell_id, g.pos,
             CAST(SUM(CAST(ROUND(se[g.pos], 6) AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS m
      FROM ka{it} CROSS JOIN (SELECT unnest(generate_series(1, {EMB_DIM})) AS pos) g
      GROUP BY cell_id, g.pos
    ), kc{it} AS (
      SELECT cell_id, list(m ORDER BY pos) AS ce FROM km{it} GROUP BY cell_id
    )"""
        )
    return ", ".join(parts)


def _ivf_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared k-means IVF centroid relation — served from the
    fingerprint-guarded on-disk index store (trained once per corpus
    version; consumers: sim_ivf_topk, sim_ivfpq_topk, dd_semantic)."""
    from ..operators.similarity import KMEANS_C, kmeans_centroids

    return persisted(
        "ivf_cents", spark, sf_dir,
        lambda: kmeans_centroids(
            load_tables(spark, sf_dir)["embeddings"], _emb_count(spark, sf_dir)
        ),
        # kc governs the sample stride + seed selection — omitting it
        # served a stale pre-edit index after a KMEANS_C change (r11)
        params=f"iters={KMEANS_ITERS};kc={KMEANS_C}",
    )


@register(
    "sim_ivf_topk",
    oracle=f"""
    WITH {_sql_kmeans_cents()}, c AS (
      SELECT cell_id, ce FROM kc{KMEANS_ITERS}
    ), a AS (
      SELECT e.vec_id, e.embedding, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      QUALIFY rn = 1
    ), q AS (
      SELECT e.vec_id AS query_id, e.embedding AS qe, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      WHERE e.vec_id < {N_QUERIES}
      QUALIFY rn <= {IVF_N_PROBE}
    ), p AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
      FROM a e JOIN q ON e.cell_id = q.cell_id
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF index with K-MEANS-trained
    centroids (operators.similarity.kmeans_centroids — bounded-sample
    Lloyd iterations at the same ~sqrt(N) cell cardinality), nearest-
    cell assignment, n_probe-cell search (the cell-probing scale path;
    recall < 1 by design, like sim_lsh_topk).  The centroid relation
    is trained once per session and cached — a production deployment
    persists it as the index table."""
    return ivf_topk(
        load_tables(spark, sf_dir)["embeddings"],
        _ivf_cents(spark, sf_dir),
        _ivf_assign(spark, sf_dir),
    )


@register(
    "sim_filtered_ivf_topk",
    oracle=f"""
    WITH {_sql_kmeans_cents()}, c AS (
      SELECT cell_id, ce FROM kc{KMEANS_ITERS}
    ), a0 AS (
      SELECT e.vec_id, e.embedding, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      QUALIFY rn = 1
    ), a AS (
      SELECT a0.* FROM a0 JOIN documents d
        ON a0.vec_id = d.doc_id AND d.lang = 'en'
    ), q AS (
      SELECT e.vec_id AS query_id, e.embedding AS qe, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      WHERE e.vec_id < {N_QUERIES}
      QUALIFY rn <= {IVF_N_PROBE}
    ), p AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
      FROM a e JOIN q ON e.cell_id = q.cell_id
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """,
)
def sim_filtered_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search through the IVF INDEX (vs sim_filtered_topk's
    exact pre-filter scan): the metadata-allowed (vec_id) set
    semi-join-restricts the stored inverted file BEFORE the candidate
    join, so only allowed members of each query's probed cells are ever
    scored — the production filtered-ANN shape where the filter rides
    the index instead of forcing a full scan.

    Recall caveat encoded honestly in the oracle (it mirrors the same
    algorithm): under a selective filter the probed cells may hold few
    allowed members, so production raises n_probe with selectivity —
    the exact-scan fallback is sim_filtered_topk.  Cost: the stored
    assignment (zero marginal), one semi-join linear in the inverted
    file, candidate scoring bounded by allowed-in-probed-cells."""
    from ..operators.similarity import ivf_topk

    t = load_tables(spark, sf_dir)
    allowed = (
        t["documents"].filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    return ivf_topk(
        t["embeddings"],
        _ivf_cents(spark, sf_dir),
        _ivf_assign(spark, sf_dir),
        allowed=allowed,
    )


def _sql_cluster_sample() -> str:
    from ..operators.similarity import CLUSTER_SAMPLE_M, KMEANS_ITERS

    return f"""
    WITH {_sql_kmeans_cents()}, c AS (
      SELECT cell_id, ce FROM kc{KMEANS_ITERS}
    ), a AS (
      SELECT e.vec_id, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      QUALIFY rn = 1
    ), h AS (
      SELECT vec_id, cell_id,
             md5('cls|' || CAST(vec_id AS VARCHAR)) AS h
      FROM a
    )
    SELECT vec_id, cell_id,
           COUNT(*) OVER (PARTITION BY cell_id) AS n_cell,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY cell_id ORDER BY h, vec_id) AS INTEGER) AS rnk
    FROM h QUALIFY rnk <= {CLUSTER_SAMPLE_M}
    """


@register("cur_cluster_sample", oracle=_sql_cluster_sample())
def cur_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sample over the embedding corpus:
    at most CLUSTER_SAMPLE_M vectors per k-means IVF cell, selected by
    the content-addressed hash shared with the curation samplers —
    embedding-space-aware curation (dense regions can't dominate the
    mixture).  Reuses the persisted centroid index; the per-vector
    assignment is the broadcast argmax of operators.similarity
    .ivf_assignments (no pair shuffle), served from the persisted
    inverted file (_ivf_assign)."""
    from ..operators.similarity import cluster_sample

    return cluster_sample(_ivf_assign(spark, sf_dir))


@register(
    "sim_ivf_stride_topk",
    oracle=f"""
    WITH st AS (
      -- ceil(sqrt(N)) centroid stride == operators.similarity.ivf_cell_stride
      SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS stride FROM embeddings
    ), c AS (
      SELECT vec_id AS cell_id, embedding AS ce FROM embeddings
      WHERE vec_id % (SELECT stride FROM st) = 0
    ), a AS (
      SELECT e.vec_id, e.embedding, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      QUALIFY rn = 1
    ), q AS (
      SELECT e.vec_id AS query_id, e.embedding AS qe, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      WHERE e.vec_id < {N_QUERIES}
      QUALIFY rn <= {IVF_N_PROBE}
    ), p AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
      FROM a e JOIN q ON e.cell_id = q.cell_id
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """,
)
def sim_ivf_stride_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-sampled-centroid IVF — the zero-training baseline
    sim_ivf_topk's k-means variant is measured against (identical plan
    shape downstream of the centroid relation; scripts/scalecheck.py
    asserts the recall ordering on a clustered corpus).

    r12: the stride variant's inverted file is store-served like the
    k-means variant's (_ivf_assign) — before, every execution re-ran
    the N x cells assignment argmax that is the dominant cost of the
    query, while sim_ivf_topk's identical pass was already recognized
    as "the inverted file a production IVF index persists"."""
    return ivf_topk(
        load_tables(spark, sf_dir)["embeddings"],
        _ivf_stride_cents(spark, sf_dir),
        _ivf_stride_assign(spark, sf_dir),
    )


def _ivf_stride_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-sampled centroid relation (operators.similarity
    .ivf_stride_centroids) — a filter of the corpus, not stored."""
    from ..operators.similarity import ivf_stride_centroids

    return ivf_stride_centroids(
        load_tables(spark, sf_dir)["embeddings"], _emb_count(spark, sf_dir)
    )


def _ivf_stride_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted file for the stride-centroid index — on-disk store
    entry mirroring _ivf_assign (the production artifact an IVF index
    persists beside its centroids; the centroids themselves are a
    stride filter of the corpus, so only the assignment is stored)."""
    from ..operators.similarity import ivf_assignments

    return persisted(
        "ivf_stride_assign", spark, sf_dir,
        lambda: ivf_assignments(
            load_tables(spark, sf_dir)["embeddings"],
            _ivf_stride_cents(spark, sf_dir),
        ),
        params="cents=ceil_sqrt_stride",
    )


def _sql_sq_l2(a: str, b: str) -> str:
    """DuckDB mirror of operators.similarity._sq_l2: rounded squared-L2
    distance with index-ordered accumulation."""
    return (
        f"ROUND(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE)"
        f" * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), 6)"
    )


def _sql_pq_books(src: str = "embeddings", col: str = "embedding", p: str = "pq") -> str:
    """DuckDB mirror of operators.similarity.pq_codebooks: per-subspace
    k-means chains (same modulo sample/seeds, rounded-L2 assignment
    with codeword-id tie-break, DECIMAL(28,12) means) unrolled as CTE
    stages, unioned into ``{p}books`` (m, cell_id, ce DOUBLE[PQ_DSUB]).
    ``src``/``col`` select the training relation (the base embeddings,
    or a residual relation for IVF-PQ)."""
    from ..operators.similarity import KMEANS_ITERS, PQ_C, PQ_DSUB, PQ_K, PQ_M

    parts = [
        f"""{p}prm AS (
      SELECT GREATEST(1, COUNT(*) // ({PQ_K} * {PQ_C})) AS ss FROM {src}
    )"""
    ]
    for m in range(PQ_M):
        lo = m * PQ_DSUB + 1
        hi = (m + 1) * PQ_DSUB
        parts.append(
            f"""{p}{m}s AS (
      SELECT vec_id, list_transform({col}[{lo}:{hi}], x -> x::DOUBLE) AS se
      FROM {src} WHERE vec_id % (SELECT ss FROM {p}prm) = 0
    ), {p}{m}c0 AS (
      SELECT vec_id AS cell_id, se AS ce FROM {p}{m}s
      WHERE vec_id % (SELECT ss * {PQ_C} FROM {p}prm) = 0
    )"""
        )
        for it in range(1, KMEANS_ITERS + 1):
            parts.append(
                f"""{p}{m}a{it} AS (
      SELECT s.vec_id, s.se, c.cell_id,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id
               ORDER BY {_sql_sq_l2("s.se", "c.ce")} ASC, c.cell_id) AS rn
      FROM {p}{m}s s, {p}{m}c{it - 1} c QUALIFY rn = 1
    ), {p}{m}m{it} AS (
      SELECT cell_id, g.pos,
             CAST(SUM(CAST(ROUND(se[g.pos], 6) AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS mv
      FROM {p}{m}a{it} CROSS JOIN (SELECT unnest(generate_series(1, {PQ_DSUB})) AS pos) g
      GROUP BY cell_id, g.pos
    ), {p}{m}c{it} AS (
      SELECT cell_id, list(mv ORDER BY pos) AS ce FROM {p}{m}m{it} GROUP BY cell_id
    )"""
            )
    union = "\n      UNION ALL\n      ".join(
        f"SELECT {m} AS m, cell_id, ce FROM {p}{m}c{KMEANS_ITERS}" for m in range(PQ_M)
    )
    parts.append(f"""{p}books AS (
      {union}
    )""")
    return ", ".join(parts)


def _pq_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared PQ codebook relation — on-disk index store entry (the
    per-subspace k-means training is the dominant cold cost of the PQ
    family; paid once per corpus version, loaded thereafter)."""
    from ..operators.similarity import PQ_C, PQ_K, PQ_M, pq_codebooks

    return persisted(
        "pq_books", spark, sf_dir,
        lambda: pq_codebooks(
            load_tables(spark, sf_dir)["embeddings"], _emb_count(spark, sf_dir)
        ),
        # c governs the training-sample stride (r11: params must name
        # every constant that changes the trained artifact)
        params=f"m={PQ_M},k={PQ_K},iters={KMEANS_ITERS},c={PQ_C}",
    )


def _pq_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared PQ reconstruction relation — on-disk index store entry
    (encode + decode of the whole corpus; the compressed-corpus table a
    production deployment persists beside the codebook)."""
    from ..operators.similarity import PQ_C, PQ_K, PQ_M, pq_encode, pq_reconstruct

    return persisted(
        "pq_recon", spark, sf_dir,
        lambda: pq_reconstruct(
            pq_encode(
                load_tables(spark, sf_dir)["embeddings"], _pq_books(spark, sf_dir)
            ),
            _pq_books(spark, sf_dir),
        ),
        params=f"m={PQ_M},k={PQ_K},iters={KMEANS_ITERS},c={PQ_C}",
    )


def _register_sim_pq() -> None:
    from ..operators.similarity import PQ_DSUB, PQ_RERANK, pq_topk

    oracle = f"""
    WITH {_sql_pq_books()}, pqcode AS (
      SELECT e.vec_id, b.m, b.cell_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.m
               ORDER BY {_sql_sq_l2(f"e.embedding[b.m * {PQ_DSUB} + 1 : (b.m + 1) * {PQ_DSUB}]", "b.ce")} ASC,
                        b.cell_id) AS rn
      FROM embeddings e, pqbooks b
      QUALIFY rn = 1
    ), pqrecon AS (
      SELECT c.vec_id, flatten(list(b.ce ORDER BY c.m)) AS recon
      FROM pqcode c JOIN pqbooks b ON b.m = c.m AND b.cell_id = c.cell_id
      GROUP BY c.vec_id
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
    ), adc AS (
      SELECT q.query_id, r.vec_id AS neighbor_id, q.qe,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY {_sql_cos("q.qe", "r.recon")} DESC, r.vec_id) AS rn
      FROM pqrecon r, q
      WHERE r.vec_id <> q.query_id
      QUALIFY rn <= {PQ_RERANK}
    ), p AS (
      SELECT a.query_id, a.neighbor_id,
             {_sql_cos("a.qe", "e.embedding")} AS cos_sim
      FROM adc a JOIN embeddings e ON e.vec_id = a.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """

    @register("sim_pq_topk", oracle=oracle)
    def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Approximate top-5 via product quantization with exact
        rerank: per-subspace k-means codebooks (PQ_M x PQ_K one-byte
        codewords, trained like the IVF centroids — deterministic
        modulo sample, rounded-L2 assignment, DECIMAL means), every
        vector encoded to PQ_M codes (64x memory cut vs float32), ADC
        scoring on the reconstructions to a top-PQ_RERANK candidate
        slice, then exact full-precision rescoring of that slice —
        the standard compressed-corpus serving pipeline.  Codebooks
        and the reconstructed corpus are built once per session and
        cached (the persisted PQ index shape)."""
        return pq_topk(
            load_tables(spark, sf_dir)["embeddings"], _pq_recon(spark, sf_dir)
        )


_register_sim_pq()


def _ivfpq_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared IVF-PQ reconstruction relation over the stored k-means
    centroids (operators.similarity.ivfpq_reconstruct) — on-disk index
    store entry (the compressed-corpus table of an IVF-PQ index)."""
    from ..operators.similarity import KMEANS_C, PQ_C, PQ_K, PQ_M, ivfpq_reconstruct

    return persisted(
        "ivfpq_recon", spark, sf_dir,
        lambda: ivfpq_reconstruct(
            load_tables(spark, sf_dir)["embeddings"],
            _ivf_cents(spark, sf_dir),
            _emb_count(spark, sf_dir),
        ),
        params=f"m={PQ_M},k={PQ_K},iters={KMEANS_ITERS},c={PQ_C},kc={KMEANS_C}",
    )


def _register_sim_ivfpq() -> None:
    from ..operators.similarity import EMB_DIM, KMEANS_ITERS, PQ_DSUB, PQ_RERANK

    oracle = f"""
    WITH {_sql_kmeans_cents()}, ivfc AS (
      SELECT cell_id, ce FROM kc{KMEANS_ITERS}
    ), iasg AS (
      SELECT e.vec_id, e.embedding, c.cell_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_sql_cos("e.embedding", "c.ce")} DESC, c.cell_id) AS rn
      FROM embeddings e, ivfc c QUALIFY rn = 1
    ), resid AS (
      SELECT a.vec_id, a.cell_id,
             list_transform(range(1, {EMB_DIM} + 1),
                            i -> a.embedding[i]::DOUBLE - c.ce[i]) AS ve
      FROM iasg a JOIN ivfc c ON c.cell_id = a.cell_id
    ), {_sql_pq_books(src="resid", col="ve", p="rq")}, rqcode AS (
      SELECT e.vec_id, b.m, b.cell_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.m
               ORDER BY {_sql_sq_l2(f"e.ve[b.m * {PQ_DSUB} + 1 : (b.m + 1) * {PQ_DSUB}]", "b.ce")} ASC,
                        b.cell_id) AS rn
      FROM resid e, rqbooks b
      QUALIFY rn = 1
    ), rqrecon AS (
      SELECT c.vec_id, flatten(list(b.ce ORDER BY c.m)) AS rv
      FROM rqcode c JOIN rqbooks b ON b.m = c.m AND b.cell_id = c.cell_id
      GROUP BY c.vec_id
    ), fullr AS (
      SELECT r.vec_id, r.cell_id,
             list_transform(range(1, {EMB_DIM} + 1), i -> c.ce[i] + d.rv[i]) AS recon
      FROM rqrecon d
      JOIN resid r ON r.vec_id = d.vec_id
      JOIN ivfc c ON c.cell_id = r.cell_id
    ), qprobe AS (
      SELECT e.vec_id AS query_id, e.embedding AS qe, c.cell_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_sql_cos("e.embedding", "c.ce")} DESC, c.cell_id) AS rn
      FROM embeddings e, ivfc c
      WHERE e.vec_id < {N_QUERIES}
      QUALIFY rn <= {IVF_N_PROBE}
    ), adc AS (
      SELECT p.query_id, r.vec_id AS neighbor_id, p.qe,
             ROW_NUMBER() OVER (PARTITION BY p.query_id
               ORDER BY {_sql_cos("p.qe", "r.recon")} DESC, r.vec_id) AS rn
      FROM fullr r JOIN qprobe p ON p.cell_id = r.cell_id
      WHERE r.vec_id <> p.query_id
      QUALIFY rn <= {PQ_RERANK}
    ), p AS (
      SELECT a.query_id, a.neighbor_id,
             {_sql_cos("a.qe", "e.embedding")} AS cos_sim
      FROM adc a JOIN embeddings e ON e.vec_id = a.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """

    @register("sim_ivfpq_topk", oracle=oracle)
    def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF-PQ top-5: product quantization of the residual after
        coarse k-means assignment (reconstruction = centroid + decoded
        residual), probe-limited search (each query ADC-scores only
        its n_probe nearest cells' reconstructions — query cost is the
        probed population, never |q|·N), then exact rerank of the ADC
        survivors — the composition that preserves within-cluster
        detail plain PQ collapses (operators.similarity.ivfpq_topk).
        Coarse centroids, residual codebooks, and the cell-keyed
        reconstructed corpus are all session-cached index relations."""
        from ..operators.similarity import ivfpq_topk

        return ivfpq_topk(
            load_tables(spark, sf_dir)["embeddings"],
            _ivf_cents(spark, sf_dir),
            _ivfpq_recon(spark, sf_dir),
        )


_register_sim_ivfpq()


def _sql_table_bucket(alias: str, table: int) -> str:
    """DuckDB mirror of operators.similarity._table_bucket_expr: the
    FULL MAX_PLANES-bit bucket for one table (same build-time sign
    literals, same index-ordered accumulation).  The corpus-scaled bit
    count is applied afterwards as ``% (1 << b)`` — bit j carries
    weight 2^j, so the modulo keeps exactly the first b planes, which
    is what the Spark side builds directly."""
    from ..operators.similarity import plane_signs

    terms = []
    for j in range(MAX_PLANES):
        arr = "[" + ", ".join(str(s) for s in plane_signs(table * MAX_PLANES + j)) + "]"
        proj = (
            f"list_sum(list_transform(range(1, len({alias}.embedding) + 1),"
            f" i -> {alias}.embedding[i]::DOUBLE * ({arr})[i]))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    return "(" + " + ".join(terms) + ")"


#: shared CTE block: corpus-scaled bit count (integer-exact mirror of
#: operators.similarity.lsh_n_bits) + per-table bucket assignments.
_SQL_LSH_BUCKETS = f"""
    prm AS (
      SELECT GREATEST(4, LEAST({MAX_PLANES}, length(bin(COUNT(*) - 1)) - 2)) AS b
      FROM embeddings
    ),
    wb AS (
      SELECT e.vec_id,
             unnest([{", ".join(str(t) for t in range(N_TABLES))}]) AS tbl,
             unnest([{", ".join(_sql_table_bucket("e", t) for t in range(N_TABLES))}]) AS bkt
      FROM embeddings e
    ),
    bkts AS (
      SELECT vec_id, tbl,
             bkt % (CAST(1 AS BIGINT) << (SELECT b FROM prm)) AS bucket
      FROM wb
    )
""".strip()


@register(
    "sim_lsh_topk",
    oracle=f"""
    WITH {_SQL_LSH_BUCKETS},
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM bkts q
      JOIN bkts e ON e.tbl = q.tbl AND e.bucket = q.bucket AND e.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), p AS (
      SELECT c.query_id, c.neighbor_id,
             {_sql_cos('qe.embedding', 'ne.embedding')} AS cos_sim
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ne ON ne.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """,
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: banded multi-table sign-projection LSH with
    corpus-scaled bucket bits + exact scoring over the candidate union
    (the scale path; recall < 1 by design).  Bucket and norm relations
    are the cached signature tables shared with dd_embedding_cosine.
    The bucket probe is the operator's only path, so this oracle
    replicates it on any corpus; tests/test_ann_store.py also gates it
    on a synthetic hot-bucket corpus the registry never sees."""
    return lsh_topk(_emb_buckets(spark, sf_dir), _emb_norms(spark, sf_dir))


def _register_knn_graph() -> None:
    from ..operators.similarity import KNN_GRAPH_K, KNN_WINDOW

    @register(
        "sim_knn_graph",
        oracle=f"""
        WITH {_SQL_LSH_BUCKETS},
        posed AS (
          SELECT tbl, bucket, vec_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY tbl, bucket
                   ORDER BY md5(CAST(tbl AS VARCHAR) || ':' ||
                                CAST(vec_id AS VARCHAR)), vec_id) AS pos
          FROM bkts
        ), fwd AS (
          SELECT a.vec_id AS src_id, b.vec_id AS nbr_id
          FROM posed a
          JOIN posed b ON b.tbl = a.tbl AND b.bucket = a.bucket
                      AND b.pos BETWEEN a.pos + 1 AND a.pos + {KNN_WINDOW}
        ), cand AS (
          SELECT DISTINCT src_id, nbr_id FROM (
            SELECT src_id, nbr_id FROM fwd
            UNION ALL
            SELECT nbr_id AS src_id, src_id AS nbr_id FROM fwd
          )
        ), p AS (
          SELECT c.src_id, c.nbr_id,
                 {_sql_cos('ea.embedding', 'eb.embedding')} AS cos_sim
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.src_id
          JOIN embeddings eb ON eb.vec_id = c.nbr_id
        )
        SELECT src_id, nbr_id, cos_sim,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY src_id ORDER BY cos_sim DESC, nbr_id) AS INTEGER) AS rnk
        FROM p QUALIFY rnk <= {KNN_GRAPH_K}
        """,
    )
    def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Corpus-wide approximate k-NN graph (every vector's top-k
        LSH bucket-mates as directed edges) from the persisted
        bucket/norm signature stores — the neighbor-graph build
        semantic-dedup and graph-clustering pipelines start from
        (operators.similarity.knn_graph)."""
        from ..operators.similarity import knn_graph

        return knn_graph(_emb_buckets(spark, sf_dir), _emb_norms(spark, sf_dir))


_register_knn_graph()


def _register_embedding_cosine() -> None:
    from ..operators.similarity import PAIR_WINDOW

    @register(
        "dd_embedding_cosine",
        oracle=f"""
        WITH {_SQL_LSH_BUCKETS},
        posed AS (
          SELECT tbl, bucket, vec_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY tbl, bucket
                   ORDER BY md5(CAST(tbl AS VARCHAR) || ':' ||
                                CAST(vec_id AS VARCHAR)), vec_id) AS pos
          FROM bkts
        ), fwd AS (
          SELECT a.vec_id AS va, b.vec_id AS vb
          FROM posed a
          JOIN posed b ON b.tbl = a.tbl AND b.bucket = a.bucket
                      AND b.pos BETWEEN a.pos + 1 AND a.pos + {PAIR_WINDOW}
        ), cand AS (
          SELECT DISTINCT LEAST(va, vb) AS vec_a, GREATEST(va, vb) AS vec_b
          FROM fwd
        ), p AS (
          SELECT c.vec_a, c.vec_b,
                 {_sql_cos('ea.embedding', 'eb.embedding')} AS cos_sim
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.vec_a
          JOIN embeddings eb ON eb.vec_id = c.vec_b
        )
        SELECT * FROM p WHERE cos_sim >= {NEAR_DUP_COS}
        """,
    )
    def dd_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Embedding-cosine near-dup pairs: multi-table LSH candidates
        (corpus-scaled bucket bits, linear expected candidate count),
        OCCUPANCY-CAPPED by the per-bucket positional window (r9 — the
        knn_graph pattern, PAIR_WINDOW successors in the per-table md5
        shuffle order, cap mirrored in the oracle), + exact cosine
        threshold (the vector analog of minhash dedup).  Bucket and
        norm relations are the cached signature tables shared with
        sim_lsh_topk."""
        return embedding_near_dup_pairs(
            _emb_buckets(spark, sf_dir), _emb_norms(spark, sf_dir)
        )


_register_embedding_cosine()


@register(
    "sim_range_search",
    oracle=f"""
    WITH {_SQL_LSH_BUCKETS},
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM bkts a
      JOIN bkts b ON b.tbl = a.tbl AND b.bucket = a.bucket
      WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
    ), p AS (
      SELECT c.query_id, c.neighbor_id,
             {_sql_cos('ea.embedding', 'eb.embedding')} AS cos_sim
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.query_id
      JOIN embeddings eb ON eb.vec_id = c.neighbor_id
    )
    SELECT * FROM p WHERE cos_sim >= {NEAR_DUP_COS}
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: ALL corpus neighbors within cosine >= 0.2 of each
    query vector (vec_id < 10) — the unbounded-k companion of the
    top-k family, answered from the same cached LSH signature tables;
    the query-side bucket slice is broadcast, so the corpus signature
    relation is probed in place.  As with sim_lsh_topk, the bucket
    probe is the operator's only path (also gated on a synthetic
    hot-bucket corpus in tests/test_ann_store.py)."""
    from ..operators.similarity import range_search

    return range_search(_emb_buckets(spark, sf_dir), _emb_norms(spark, sf_dir))


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "mm_media_features",
    oracle="""
    -- COALESCE mirrors with_media's contract: NULL text IS an EMPTY
    -- payload (the kernels decode zero bytes), never a NULL row of
    -- metadata (fuzz gate NULL corpus, r12)
    SELECT doc_id,
           CAST(octet_length(encode(COALESCE(text, ''))) AS INTEGER) AS n_bytes,
           CAST(octet_length(encode(COALESCE(text, ''))) % 512 AS INTEGER) AS width,
           CAST((octet_length(encode(COALESCE(text, ''))) * 7) % 512 AS INTEGER)
             AS height,
           CAST(3 AS INTEGER) AS channels
    FROM documents
    """,
)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media -> features via Arrow-batched mapInPandas.  The
    decode is a deterministic stub (no image libs in container), which
    is what makes this oracle-checkable; the Spark-side plumbing
    (binary column, schema, batching) is real."""
    return media_features(load_tables(spark, sf_dir)["documents"])


def _sql_phash_sig(src: str = "documents") -> str:
    return _SQL_PHASH_SIG_T.format(src=src)


_SQL_PHASH_SIG_T = """
    d AS (SELECT doc_id, text, length(text) AS n FROM {src}),
    codes AS (SELECT doc_id, n,
              list_transform(range(1, n + 1), i -> unicode(text[i])) AS cs
              FROM d),
    tot AS (SELECT doc_id, n, cs, list_sum(cs) AS total FROM codes),
    pbits AS (
      SELECT doc_id, j,
             CASE WHEN list_sum(cs[(j * n) // 48 + 1 : ((j + 1) * n) // 48]) * n
                       > total * (((j + 1) * n) // 48 - (j * n) // 48)
                  THEN 1 ELSE 0 END AS bit
      FROM tot, (SELECT unnest(range(0, 48)) AS j) js
    ),
    psig AS (SELECT doc_id,
             CAST(SUM(CASE WHEN bit = 1
                           THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS phash
             FROM pbits GROUP BY doc_id)
""".strip()

#: deterministic near-dup injection for the pair detector: the driver
#: corpus has exact duplicates only at sf0.1, so (the cur_pii_redact
#: pattern) the PAIRS query augments the corpus with content-addressed
#: ~2% samples — byte-identical copies (guaranteed hamming-0 pairs at
#: every scale) and same-length first-char edits (the lightly-edited
#: case; hamming is whatever the hash says, identically on both
#: engines).  Offsets keep injected ids disjoint from real ones.
PHASH_COPY_OFFSET = 10_000_000
PHASH_EDIT_OFFSET = 20_000_000
PHASH_INJECT_PCT = 2.0


def _phash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload perceptual-hash signatures — on-disk index store
    entry (the media analog of the simhash store: the mapInPandas
    kernel runs once per corpus version)."""
    from ..operators.multimodal import PHASH_BITS, media_phash

    return persisted(
        "media_phash", spark, sf_dir,
        lambda: media_phash(load_tables(spark, sf_dir)["documents"]),
        table="documents",
        params=f"bits={PHASH_BITS}",
    )


@register("mm_phash", oracle=f"WITH {_sql_phash_sig()} SELECT doc_id, phash FROM psig")
def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash per media payload (r7) — aHash over the
    decoded pixel stream (the mm_* family's deterministic code-point
    stand-in), every block-mean comparison in cross-multiplied exact
    integer form so the 48-bit signature is bit-identical on both
    engines.  Store-served like the SimHash signatures."""
    return _phash_sig(spark, sf_dir)


def _sql_phash_pairs() -> str:
    from ..operators.curation import pct_threshold
    from ..operators.multimodal import PHASH_MAX_HAMMING

    th = pct_threshold(PHASH_INJECT_PCT)
    return f"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {PHASH_COPY_OFFSET}, text FROM documents
      WHERE substr(md5('phc|' || CAST(doc_id AS VARCHAR)), 1, 4) < '{th}'
      UNION ALL
      SELECT doc_id + {PHASH_EDIT_OFFSET},
             CASE WHEN substring(text, 1, 1) <> 'z'
                  THEN 'z' || substring(text, 2)
                  ELSE 'y' || substring(text, 2) END
      FROM documents
      WHERE substr(md5('phe|' || CAST(doc_id AS VARCHAR)), 1, 4) < '{th}'
    ),
    {_sql_phash_sig('aug')},
    pbands AS (
      SELECT doc_id, phash, b.b AS band,
             (phash >> (b.b * 12)) & 4095 AS nib
      FROM psig, (SELECT unnest(range(0, 4)) AS b) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
      FROM pbands a
      JOIN pbands b ON a.band = b.band AND a.nib = b.nib
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {PHASH_MAX_HAMMING}
    """


@register("mm_phash_pairs", oracle=_sql_phash_pairs())
def mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs (r7): hamming <= 3 on the 48-bit
    perceptual hash — the multimodal member of the dedup family
    (operators.multimodal.phash_near_dup_pairs).  SimHash's block
    banding gives pigeonhole recall 1.0 at the threshold; the exact
    bit_count verify runs only within equal (band, nib) buckets.

    The corpus signature relation is store-served; the injected
    copy/edit sample (see PHASH_COPY_OFFSET) runs through the live
    kernel and unions in — so the query proves detection (hamming-0
    pairs guaranteed at every scale) while the bulk path stays the
    stored-signature probe a production dedup run uses."""
    from ..operators.curation import hash_sample
    from ..operators.multimodal import media_phash, phash_near_dup_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    copies = hash_sample(docs, "doc_id", PHASH_INJECT_PCT, salt="phc").select(
        (F.col("doc_id") + PHASH_COPY_OFFSET).alias("doc_id"), "text"
    )
    edits = hash_sample(docs, "doc_id", PHASH_INJECT_PCT, salt="phe").select(
        (F.col("doc_id") + PHASH_EDIT_OFFSET).alias("doc_id"),
        F.when(
            F.expr("substring(text, 1, 1) <> 'z'"),
            F.concat(F.lit("z"), F.expr("substring(text, 2, length(text))")),
        )
        .otherwise(F.concat(F.lit("y"), F.expr("substring(text, 2, length(text))")))
        .alias("text"),
    )
    # Memoize the injected-sample kernel output (r12): ``sig`` feeds
    # BOTH sides of the banded self-join, and an uncached union branch
    # re-runs the Arrow kernel once per side per execution — two
    # Python-worker round trips to re-hash the same ~2x5% sample.  The
    # injected relation is tiny (sample-sized) and deterministic, so
    # the session memo is the same move as the store-served bulk
    # signature next to it; detection still goes through the live
    # kernel (its first execution), exactly as documented.
    inj = memo(
        "phash_inject", spark, sf_dir,
        lambda: media_phash(copies.union(edits)),
        persist=True,
    )
    sig = _phash_sig(spark, sf_dir).union(inj)
    return phash_near_dup_pairs(sig)


def _sql_phash_clusters() -> str:
    from ..operators.multimodal import PHASH_MAX_HAMMING

    body = _sql_phash_pairs().strip()
    assert body.startswith("WITH ")
    # keep the CTE chain (aug/psig/pbands/cand), drop the final SELECT
    ctes = body[len("WITH "):].rsplit("SELECT doc_a", 1)[0].rstrip()
    return f"""
    WITH RECURSIVE {ctes},
    pp AS (
      SELECT doc_a, doc_b FROM cand WHERE hamming <= {PHASH_MAX_HAMMING}
    ),
    e AS (
      SELECT doc_a AS src, doc_b AS dst FROM pp
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pp
    ),
    walk(doc_id, lbl) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.src, w.lbl FROM walk w JOIN e ON e.dst = w.doc_id
    )
    SELECT doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY doc_id
    """


@register("mm_phash_clusters", oracle=_sql_phash_clusters())
def mm_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup CLUSTERS: connected components over the
    perceptual-hash pair graph (same pointer-jumping min-label
    propagation as dd_dup_clusters) — copies and light edits of one
    image collapse into a single cluster keyed by its minimum doc_id,
    the unit a canonical-selection / dedup-removal pass operates on.
    Completes the multimodal dedup chain: phash -> pairs -> clusters.
    Oracle is the recursive-CTE transitive closure over the SAME
    banded candidate SQL as mm_phash_pairs.

    The (doc_id, cluster_id) result is store-served like dup_clusters:
    the pointer-jumping rounds are a multi-job iterative build that
    should run once per corpus version, not once per session."""
    from ..operators.dedup import duplicate_clusters
    from ..operators.multimodal import PHASH_BITS, PHASH_MAX_HAMMING

    return persisted(
        "phash_clusters", spark, sf_dir,
        lambda: duplicate_clusters(
            mm_phash_pairs(spark, sf_dir).select("doc_a", "doc_b")
        ),
        table="documents",
        # bits keys the UPSTREAM phash signature store — without it a
        # PHASH_BITS change retrained the pairs but kept serving
        # clusters computed from the old bit-width (r11)
        params=(
            f"pct={PHASH_INJECT_PCT},co={PHASH_COPY_OFFSET},"
            f"eo={PHASH_EDIT_OFFSET},h={PHASH_MAX_HAMMING},bits={PHASH_BITS}"
        ),
    )


@register(
    "mm_resize",
    oracle="""
    -- COALESCE per with_media's NULL-text-is-empty-payload contract
    -- (fuzz gate, r12)
    SELECT doc_id,
           CAST(64 AS INTEGER) AS width,
           CAST(64 AS INTEGER) AS height,
           CAST(LEAST(octet_length(encode(COALESCE(text, ''))), 12288) AS INTEGER)
             AS n_bytes,
           octet_length(encode(COALESCE(text, ''))) > 12288 AS cropped
    FROM documents
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage (binary in -> resized binary + metadata out, 1:1)
    via mapInPandas; the interpolation kernel is a deterministic
    crop stub, the Arrow plumbing is real.  The compared output drops
    the binary column (metadata is a pure function of it)."""
    return resize_media(load_tables(spark, sf_dir)["documents"]).select(
        "doc_id", "width", "height", "n_bytes", "cropped"
    )


@register(
    "mm_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(LEAST({FRAME_BYTES}, n - f * {FRAME_BYTES}) AS INTEGER) AS frame_len
    FROM (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             UNNEST(generate_series(0, (octet_length(encode(text)) - 1) // {FRAME_BYTES}, {FRAME_EVERY_N})) AS f
      FROM documents
      WHERE octet_length(encode(text)) > 0
    )
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (1 -> N rows per payload) via an exploding
    mapInPandas iterator: every 4th 256-byte frame of each fake
    'video'.  Demonstrates fan-out batch output, the shape a real
    keyframe extractor has."""
    return sample_frames(load_tables(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# Event-stream operators (batch equivalents; streaming/ has the
# readStream versions of the same logic)
# ---------------------------------------------------------------------------


@register(
    "ev_tumbling_1h",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def ev_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window aggregation (streaming shape, batch mode)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round2(money_sum("value")).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


@register(
    "ev_sliding_1h_30m",
    oracle="""
    WITH x AS (
      SELECT unnest([
               make_timestamp((epoch_us(ts) // 1800000000) * 1800000000),
               make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000)
             ]) AS window_start,
             event_type, value
      FROM events
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM x GROUP BY 1, 2
    """,
)
def ev_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m window aggregation — each event lands in two
    windows (the oracle materializes both epoch-aligned starts)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round2(money_sum("value")).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


@register(
    "ev_sessionized",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts >= lag(ts) OVER w + INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      -- event_id in the running-sum ORDER BY: with duplicate
      -- (user_id, ts) rows the peer order would otherwise be
      -- engine-ambiguous, making session-id assignment nondeterministic
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def ev_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — Spark's session_window
    in batch mode; the oracle reconstructs sessions with the classic
    lag-gap / running-sum technique."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "ev_session_funnel_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts >= lag(ts) OVER w + INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      -- event_id tie-break as in ev_sessionized: deterministic peer
      -- order for duplicate (user_id, ts) rows
      SELECT user_id, ts, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ), g AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             COUNT(*) AS n_events,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id, session_start, n_events,
           t_view IS NOT NULL AS viewed,
           COALESCE(t_view IS NOT NULL AND t_click > t_view, FALSE)
             AS clicked_after_view,
           COALESCE(t_view IS NOT NULL AND t_click > t_view
                    AND t_purchase > t_click, FALSE)
             AS purchased_after_click
    FROM g
    """,
)
def ev_session_funnel_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel at SESSION grain: within each 30-min-gap
    session window, did the user view -> click after the view ->
    purchase after that click.  ev_user_funnel answers this per
    lifetime; the session-scoped variant is what product analytics
    actually plots (conversion within a visit).  One shuffle: Spark's
    session_window assignment and the conditional-MIN step timestamps
    fuse into a single session-keyed aggregate — the naive form is
    sessionize + 3 per-step self-joins (4 shuffles of the fact).
    Oracle: the lag-gap/running-sum session reconstruction feeding the
    same conditional MINs."""
    t = load_tables(spark, sf_dir)
    m = (
        t["events"]
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "t_purchase"
            ),
            F.min("ts").alias("session_start"),
        )
    )
    viewed = F.col("t_view").isNotNull()
    clicked = F.coalesce(viewed & (F.col("t_click") > F.col("t_view")), F.lit(False))
    purchased = F.coalesce(
        clicked & (F.col("t_purchase") > F.col("t_click")), F.lit(False)
    )
    return m.select(
        "user_id",
        "session_start",
        "n_events",
        viewed.alias("viewed"),
        clicked.alias("clicked_after_view"),
        purchased.alias("purchased_after_click"),
    )


@register(
    "ev_dedup_first",
    oracle="""
    SELECT user_id, event_type, event_id, ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def ev_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on (user_id, event_type) — batch analog of
    streaming dropDuplicatesWithinWatermark, made deterministic with a
    (ts, event_id) order."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@register(
    "ev_cdc_latest_state",
    oracle="""
    SELECT user_id, event_type, last_event_id, last_ts, last_value, n_versions
    FROM (
      SELECT user_id, event_type,
             event_id AS last_event_id, ts AS last_ts, value AS last_value,
             CAST(COUNT(*) OVER (PARTITION BY user_id, event_type) AS BIGINT)
               AS n_versions,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def ev_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: materialize the latest-writer-wins state
    table from an upsert event stream — the CDC-merge read path of a
    lakehouse (each (user_id, event_type) key's newest version by
    (ts, event_id), plus the version count a compaction planner uses).

    Plan: ONE hash aggregate with ``max_by(struct(...), struct(ts,
    event_id))`` — the partial (map-side) combine reduces every input
    partition to at most one row per key BEFORE the shuffle, so the
    exchange carries ~|keys| rows however many versions pile up.  The
    oracle's window form (ROW_NUMBER ... DESC = 1) would shuffle and
    sort EVERY version — the agg form is the 100 TB answer, and
    hash-matching it against the window-form oracle proves the two
    formulations equivalent."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("user_id", "event_type")
        .agg(
            F.expr(
                "max_by(struct(event_id, ts, value), struct(ts, event_id))"
            ).alias("m"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        .select(
            "user_id",
            "event_type",
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.ts").alias("last_ts"),
            F.col("m.value").alias("last_value"),
            "n_versions",
        )
    )


@register(
    "ev_scd2_user_state",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
      FROM events WHERE event_type IS NOT NULL
    ), changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_state IS NULL OR prev_state <> event_type
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS version
    FROM changes
    """,
)
def ev_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history build from the event changelog
    (operators.temporal.scd2_history): per user, consecutive same-state
    runs compress to one versioned row with [valid_from, valid_to)
    interval stamps and an ``is_current`` flag — the dimension-history
    table point-in-time joins read.

    Both window passes (change detection, interval stamping) share one
    partitioning + sort, so the physical plan carries a SINGLE Exchange
    and Sort for the whole build — the 100 TB cost is one shuffle of
    the changelog (see the operator docstring and test_plans'
    single-exchange assertion)."""
    from ..operators.temporal import scd2_history

    return scd2_history(load_tables(spark, sf_dir)["events"])


@register(
    "ev_scd2_pit_lookup",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
      FROM events WHERE event_type IS NOT NULL
    ), changes AS (
      -- one change point per (user_id, ts), keeping the LAST version
      -- (max event_id) — two same-instant changes would otherwise
      -- leave the ASOF tie to engine whim on both sides (r11)
      SELECT user_id, state, ts FROM (
        SELECT user_id, event_type AS state, ts,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM ordered
        WHERE prev_state IS NULL OR prev_state <> event_type
      ) WHERE rn = 1
    ), p AS (
      SELECT event_id, user_id, ts,
             ts - INTERVAL 1 MICROSECOND AS pts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts AS event_ts,
           h.state AS state_before, h.ts AS state_since
    FROM p ASOF LEFT JOIN changes h
      ON p.user_id = h.user_id AND h.ts <= p.pts
    """,
)
def ev_scd2_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each purchase event fetches the
    user's SCD2 state in effect STRICTLY BEFORE the purchase (what
    regime was the user in when they converted) — the canonical
    fact-against-history join a warehouse runs after the SCD2 build.

    Composition: scd2_history (one user_id shuffle) feeds asof_join's
    union-tag + last(ignorenulls) window (one more user_id shuffle,
    NO join node) — total cost two bounded exchanges, independent of
    how many facts map to each dimension interval.  Strictly-before
    semantics come from shifting the probe timestamp by one
    microsecond, the changelog's native resolution; the oracle is
    DuckDB's native ASOF LEFT JOIN against the same change points.

    r11: the history side is pre-deduped to ONE change point per
    (user_id, ts) — keeping the max-version row — because two
    same-instant changes (distinct event_types at an equal ts) would
    leave asof_join's last-among-equal-keys pick, and DuckDB's ASOF
    tie, both arbitrary; the oracle applies the identical dedup."""
    from ..operators.temporal import asof_join, scd2_history

    ev = load_tables(spark, sf_dir)["events"]
    hist = (
        scd2_history(ev)
        .select(
            "user_id", F.col("valid_from").alias("ts"), "state", "version"
        )
        .groupBy("user_id", "ts")
        .agg(F.expr("max_by(state, version)").alias("state"))
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("event_ts"),
        (F.col("ts") - F.expr("INTERVAL 1 MICROSECOND")).alias("ts"),
    )
    out = asof_join(probes, hist, key="user_id", ts="ts")
    return out.select(
        "event_id",
        "user_id",
        "event_ts",
        F.col("r_state").alias("state_before"),
        F.col("r_ts").alias("state_since"),
    )


@register(
    "ev_scd2_incremental",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
      FROM events WHERE event_type IS NOT NULL
    ), changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_state IS NULL OR prev_state <> event_type
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS version
    FROM changes
    """,
)
def ev_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL SCD2 maintainer (streaming/scd2.py), driver-
    verified: the changelog folds in through three event-time-ordered
    micro-batches (each merging only affected users' replayed change
    skeletons with the new slice), and the latest-wins log read must
    hash-match the ONE-SHOT batch-rebuild oracle — the equivalence that
    makes the streaming maintainer trustworthy is itself under the
    correctness gate, not just unit tests.

    The fold works in a PRIVATE per-build temp dir (tempfile.mkdtemp —
    mode 0700, collision-free, never a predictable world-shared path;
    rmtree'd at interpreter exit), and the COMPACTED history is then
    store-served like the other corpus-versioned dedup artifacts
    (fingerprint-guarded index store keyed on the events table), so the
    three-batch fold is paid once per CORPUS VERSION: later sessions —
    including bench.py's cold JVM — read the compacted parquet back.
    The oracle recomputes the one-shot rebuild from live events
    unconditionally, so a stale store fails the hash gate, not hides."""
    import atexit
    import os as _os_
    import shutil as _shutil_
    import tempfile

    from ..streaming.scd2 import apply_scd2_batch, read_history

    def build() -> DataFrame:
        workdir = tempfile.mkdtemp(prefix="scd2_inc_")
        atexit.register(_shutil_.rmtree, workdir, ignore_errors=True)
        # the log itself is a subdir: apply_scd2_batch's existence probe
        # must see "no log yet" on the first batch, and mkdtemp had to
        # create the private parent.
        log = _os_.path.join(workdir, "log")
        ev = load_tables(spark, sf_dir)["events"].select(
            "user_id", "event_type", "ts", "event_id"
        )
        t1, t2 = ev.selectExpr(
            "percentile(unix_micros(ts), 0.33)",
            "percentile(unix_micros(ts), 0.66)",
        ).first()
        us = F.unix_micros("ts")
        for i, sl in enumerate(
            (
                ev.filter(us <= t1),
                ev.filter((us > t1) & (us <= t2)),
                ev.filter(us > t2),
            )
        ):
            apply_scd2_batch(sl, i, log)
        return read_history(spark, log).select(
            "user_id", "state", "valid_from", "valid_to", "is_current", "version"
        )

    return persisted(
        "scd2_inc_history", spark, sf_dir, build, table="events",
        params="batches=3",
    )


@register(
    "ev_state_durations",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
      FROM events WHERE event_type IS NOT NULL
    ), changes AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM (SELECT user_id, event_type, ts, event_id FROM ordered
            WHERE prev_state IS NULL OR prev_state <> event_type)
    )
    SELECT state,
           CAST(COUNT(*) FILTER (valid_to IS NOT NULL) AS BIGINT)
             AS n_closed,
           CAST(COUNT(*) FILTER (valid_to IS NULL) AS BIGINT) AS n_open,
           CAST(SUM(date_diff('microsecond', valid_from, valid_to))
                  FILTER (valid_to IS NOT NULL) AS BIGINT) AS total_us,
           CAST(SUM(date_diff('microsecond', valid_from, valid_to))
                  FILTER (valid_to IS NOT NULL) AS BIGINT)
             // CAST(COUNT(*) FILTER (valid_to IS NOT NULL) AS BIGINT)
             AS avg_us
    FROM changes GROUP BY state
    """,
)
def ev_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regime-duration analytics over the SCD2 history: per state, how
    many closed/open intervals and the exact integer-microsecond total
    and mean dwell time — the "how long do users stay in each state"
    report a lifecycle analysis starts from.  One small agg over the
    single-shuffle history build; duration arithmetic in unix_micros so
    both engines accumulate identical integers."""
    from ..operators.temporal import scd2_history

    hist = scd2_history(load_tables(spark, sf_dir)["events"])
    dur = F.unix_micros("valid_to") - F.unix_micros("valid_from")
    closed = F.col("valid_to").isNotNull()
    return (
        hist.groupBy("state")
        .agg(
            F.sum(closed.cast("int")).cast("bigint").alias("n_closed"),
            F.sum(F.col("valid_to").isNull().cast("int"))
            .cast("bigint")
            .alias("n_open"),
            F.sum(F.when(closed, dur)).alias("total_us"),
        )
        .select(
            "state",
            "n_closed",
            "n_open",
            "total_us",
            F.expr("total_us div n_closed").alias("avg_us"),
        )
    )


#: Snapshot instant for ev_scd2_snapshot (mid-range of the generator's
#: January window at every sf).
SCD2_SNAPSHOT_AT = "2024-01-15 00:00:00"


@register(
    "ev_scd2_snapshot",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
      FROM events WHERE event_type IS NOT NULL
    ), changes AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM (SELECT user_id, event_type, ts, event_id FROM ordered
            WHERE prev_state IS NULL OR prev_state <> event_type)
    )
    SELECT user_id, state, valid_from
    FROM changes
    WHERE valid_from <= TIMESTAMP '{SCD2_SNAPSHOT_AT}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{SCD2_SNAPSHOT_AT}')
    """,
)
def ev_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension snapshot AS OF an instant: each user's single SCD2 row
    whose [valid_from, valid_to) interval covers T — the time-travel
    read every report-against-history runs (and what a reproducibility
    audit replays).  One interval filter over the scd2_history build:
    the intervals partition each user's timeline (property-tested), so
    exactly one row per user active at T survives, with no join and no
    extra shuffle beyond the history build's single Exchange."""
    from ..operators.temporal import scd2_history

    hist = scd2_history(load_tables(spark, sf_dir)["events"])
    at = F.lit(SCD2_SNAPSHOT_AT).cast("timestamp")
    return hist.filter(
        (F.col("valid_from") <= at)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > at))
    ).select("user_id", "state", "valid_from")


def _register_watermark_audit() -> None:
    delays = (0, 300, 900, 3600)  # candidate watermark delays, seconds
    # The generator emits events already ordered by event time, so the
    # true arrival axis has zero lateness — like cur_pii_redact's
    # injected PII, the query synthesizes deterministic LOCAL disorder
    # (each event's arrival slot displaced forward by a
    # content-addressed 0..20 positions), giving a lateness
    # distribution every candidate delay slices differently
    # (measured at sf0.01: 70% > 0, 64% > 5 min, 53% > 15 min,
    # 10% > 1 h).  A full shuffle would make ~everything late and
    # the audit degenerate.
    arr_jitter = 21
    arr_block = 1000
    arms_sql = " ".join(
        f"UNION ALL SELECT {d}, CAST(n_{d} AS BIGINT), "
        f"ROUND(CAST(n_{d} AS DOUBLE)/n, 6) FROM a"
        for d in delays[1:]
    )
    counts_sql = ", ".join(
        f"SUM(CASE WHEN late_us > {d * 1_000_000} THEN 1 ELSE 0 END) AS n_{d}"
        for d in delays
    )

    @register(
        "ev_watermark_audit",
        oracle=f"""
        WITH e AS (
          SELECT event_id,
                 event_id + ('0x' || substr(md5('arr|' ||
                   CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % {arr_jitter}
                   AS arr,
                 epoch_us(ts) AS us
          FROM events
        ), eg AS (
          SELECT event_id, arr, us, arr // {arr_block} AS grp FROM e
        ), g AS (
          SELECT grp, MAX(us) AS gmax FROM eg GROUP BY grp
        ), gp AS (
          SELECT grp, COALESCE(MAX(gmax) OVER (
            ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS gprior
          FROM g
        ), w AS (
          SELECT eg.event_id, eg.us,
                 GREATEST(gp.gprior, COALESCE(MAX(eg.us) OVER (
                   PARTITION BY eg.grp ORDER BY eg.arr, eg.event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS prior
          FROM eg JOIN gp USING (grp)
        ), l AS (
          SELECT GREATEST(0, prior - us) AS late_us FROM w
        ), a AS (
          SELECT COUNT(*) AS n, {counts_sql} FROM l
        )
        SELECT {delays[0]} AS watermark_delay_s, CAST(n_{delays[0]} AS BIGINT)
                 AS n_dropped,
               ROUND(CAST(n_{delays[0]} AS DOUBLE)/n, 6) AS dropped_rate FROM a
        {arms_sql}
        """,
    )
    def ev_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Watermark tuning audit: for each candidate watermark delay,
        the count and fraction of events that would be DROPPED by
        stateful streaming operators (lateness beyond the delay),
        where lateness is measured against the running max event-time
        in arrival order (operators.temporal.event_lateness — the
        two-level distributed prefix max; no global sort).  The
        generator's stream is time-ordered, so the arrival axis is a
        content-addressed local displacement (0..20 arrival slots
        forward) — the audit must measure real disorder, not no-op."""
        from ..operators.temporal import event_lateness

        ev = load_tables(spark, sf_dir)["events"].withColumn(
            "arrival_id",
            F.expr(
                "event_id + CAST(conv(substr(md5(concat('arr|',"
                " CAST(event_id AS STRING))), 1, 12), 16, 10) AS BIGINT)"
                f" % {arr_jitter}"
            ),
        )
        lat = event_lateness(ev, block=arr_block, arrival_col="arrival_id")
        agg = lat.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.when(F.col("late_us") > d * 1_000_000, 1).otherwise(0)
                ).alias(f"n_{d}")
                for d in delays
            ],
        )
        arms = ", ".join(f"{d}, n_{d}" for d in delays)
        return agg.select(
            "n",
            F.expr(
                f"stack({len(delays)}, {arms}) AS (watermark_delay_s, n_dropped)"
            ),
        ).select(
            "watermark_delay_s",
            "n_dropped",
            F.round(F.col("n_dropped") / F.col("n"), 6).alias("dropped_rate"),
        )


_register_watermark_audit()


@register(
    "ev_json_extract",
    oracle="""
    -- json_valid guard: Spark's get_json_object yields NULL for a
    -- malformed document, while the bare regex would still match a
    -- "k" inside truncated JSON (fuzz gate edge corpus, r12).
    -- Single-quoted JSON is excluded from the corpus by contract
    -- (Jackson leniency vs json_valid strictness).
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN json_valid(props) THEN
                TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT)
                END) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull props.k out of the JSON-ish
    payload and aggregate per event type.

    try_cast, not cast: a NESTED k (``{"k": {...}}``) extracts as the
    object's JSON text, and under ANSI a plain bigint cast of that
    text throws NumberFormatException — one irregular payload killing
    the scan (fuzz gate edge corpus, r12).  Non-integral k degrades to
    NULL, exactly like the oracle's TRY_CAST of its regex extract
    (which matches nothing on a nested value)."""
    t = load_tables(spark, sf_dir)
    k = F.expr("try_cast(get_json_object(props, '$.k') AS bigint)")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(k).alias("sum_k"))
    )


@register(
    "ev_json_variant",
    oracle="""
    -- The json_valid guard + TRY_CAST mirror the Spark side's
    -- try_parse_json + try_variant_get: a MALFORMED payload (DuckDB's
    -- json_extract_string THROWS on one, even under TRY_CAST) and a
    -- nested or non-integral k both degrade to NULL instead of
    -- failing the scan, and n_missing_k counts rows with NO INTEGRAL
    -- k (absent path, nested object, malformed payload) on both
    -- engines (fuzz gate edge corpus, r12)
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(COUNT(*) FILTER (WHERE k IS NULL) AS BIGINT) AS n_missing_k
    FROM (SELECT event_type,
                 CASE WHEN json_valid(props) THEN
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                 END AS k
          FROM events)
    GROUP BY event_type
    """,
)
def ev_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT form of semi-structured extraction (Spark 4): parse
    the payload ONCE into the binary VARIANT encoding, then pull typed
    fields with variant_get — versus ev_json_extract's per-path string
    parse (get_json_object re-parses the JSON text for every path it
    extracts).  At 100 TB with multi-field extraction the single parse
    plus shredded binary access is the difference between one scan of
    the payload and one scan per field; try_parse_json degrades
    malformed payloads to NULL instead of failing the scan (the
    quarantine-ingest posture).  Oracle: DuckDB's native JSON type.

    try_variant_get, not variant_get: a nested k is a VARIANT OBJECT,
    and the strict getter throws on the bigint cast — same
    one-bad-row class as ev_json_extract; NULL means "no integral k"
    and feeds n_missing_k (fuzz gate edge corpus, r12)."""
    t = load_tables(spark, sf_dir)
    v = F.try_parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        t["events"]
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count_if(F.col("k").isNull()).cast("bigint").alias("n_missing_k"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal joins (operators/temporal.py): as-of and range — the two
# interval-join shapes Spark lacks natively, rewritten shuffle-safe.
# ---------------------------------------------------------------------------

#: 10-minute band for the range join, in integer microseconds.
RANGE_W_US = 600_000_000


@register(
    "ev_asof_error_before_click",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts,
           e.event_id AS r_event_id, e.ts AS r_ts,
           date_diff('microsecond', e.ts, c.ts) AS gap_us
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN
         (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND e.ts <= c.ts
    """,
)
def ev_asof_error_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click joined to the same user's most recent error at or
    before it (trades-vs-quotes shape).  The Spark plan is the
    union-tag + last(ignorenulls) window — ONE shuffle keyed by
    user_id, no join node, fan-out-independent; the oracle is DuckDB's
    native ASOF LEFT JOIN."""
    from ..operators.temporal import asof_join

    ev = load_tables(spark, sf_dir)["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(clicks, errors, key="user_id", ts="ts")
    return out.select(
        "click_id",
        "user_id",
        "ts",
        "r_event_id",
        "r_ts",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("r_ts"))).alias("gap_us"),
    )


@register(
    "ev_range_clicks_after_error",
    oracle="""
    WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    c AS (SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS v
          FROM events WHERE event_type = 'click'),
    m AS (
      SELECT e.event_id, COUNT(*) AS n_clicks, SUM(c.v) AS sv
      FROM e JOIN c
        ON e.user_id = c.user_id
       AND c.ts > e.ts
       AND date_diff('microsecond', e.ts, c.ts) <= 600000000
      GROUP BY e.event_id
    )
    SELECT e.event_id, e.user_id, e.ts,
           COALESCE(m.n_clicks, 0) AS n_clicks,
           CAST(ROUND(COALESCE(m.sv, 0), 2) AS DOUBLE) AS click_value
    FROM e LEFT JOIN m USING (event_id)
    """,
)
def ev_range_clicks_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks (count + exact-decimal value sum) within 10 minutes after
    each error, per user — the band-join shape.  Spark side buckets
    both relations to interval width and equi-joins (key, bucket) with
    2x left replication — a shuffled hash join, never a nested loop;
    the oracle states the band as a plain inequality join."""
    from ..operators.temporal import range_join

    ev = load_tables(spark, sf_dir)["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("v")
    )
    pairs = range_join(errors, clicks, key="user_id", width_us=RANGE_W_US)
    m = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"), F.sum("v_r").alias("sv")
    )
    return errors.join(m, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        F.round(F.coalesce(F.col("sv"), F.lit(0)), 2).cast("double").alias("click_value"),
    )


# ---------------------------------------------------------------------------
# SQ8-compressed similarity (registered with the sim_* family)
# ---------------------------------------------------------------------------


@register(
    "sim_sq8_topk",
    oracle=f"""
    WITH z AS (
      SELECT vec_id, embedding,
             127.0 / greatest(list_max(list_transform(embedding,
                     x -> abs(x::DOUBLE))), 1e-30) AS s
      FROM embeddings
    ), e AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(x::DOUBLE * s, 0) / s) AS de
      FROM z
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
    ), p AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_sql_cos('q.qe', 'e.de')} AS cos_sim
      FROM e, q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rnk
    FROM p QUALIFY rnk <= {TOP_K}
    """,
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors scored against the int8 scalar-quantized corpus
    (full-precision queries) — the 4x-memory-compression rescoring mode
    of the similarity family."""
    from ..operators.similarity import sq8_topk

    return sq8_topk(load_tables(spark, sf_dir)["embeddings"])


@register(
    "ev_enriched_segments",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def ev_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event activity by customer segment — the stream-static
    enrichment join (batch form; the readStream version is
    streaming.events.enriched_stream, equivalence-tested).  The
    customer dimension is broadcast: at 100 TB the event stream stays
    map-side through the join and only the segment aggregate
    shuffles."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            round2(money_sum("value")).alias("total_value"),
        )
    )


@register(
    "ev_user_funnel",
    oracle="""
    WITH m AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           t_signup IS NOT NULL AS did_signup,
           COALESCE(t_signup IS NOT NULL AND t_click > t_signup, FALSE)
             AS clicked_after_signup,
           COALESCE(t_signup IS NOT NULL AND t_click > t_signup
                    AND t_purchase > t_click, FALSE)
             AS purchased_after_click
    FROM m
    """,
)
def ev_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversion funnel (signup -> first click after signup
    -> first purchase after that click) from ONE conditional-MIN pass
    over the events table — the funnel shape that naive implementations
    express as 3 self-joins (3 shuffles of the fact) and this plan
    computes with a single user-keyed hash aggregate.  A user who
    signed up but never clicked would leave ``TRUE AND NULL = NULL``
    in the flag columns; both engines wrap the step flags in
    ``coalesce(..., false)`` so non-converted steps read as false and
    downstream ``= false`` filters see them."""
    t = load_tables(spark, sf_dir)
    m = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "t_purchase"
            ),
        )
    )
    signed = F.col("t_signup").isNotNull()
    clicked = F.coalesce(signed & (F.col("t_click") > F.col("t_signup")), F.lit(False))
    purchased = F.coalesce(
        clicked & (F.col("t_purchase") > F.col("t_click")), F.lit(False)
    )
    return m.select(
        "user_id",
        signed.alias("did_signup"),
        clicked.alias("clicked_after_signup"),
        purchased.alias("purchased_after_click"),
    )


@register(
    "ev_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), a AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('day', f.cohort_week,
                       CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_n
      FROM events e JOIN f USING (user_id)
    )
    SELECT cohort_week, CAST(week_n AS BIGINT) AS week_n,
           COUNT(*) AS n_users
    FROM a GROUP BY cohort_week, week_n
    """,
)
def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity
    week, counted in each subsequent activity week — the standard
    retention triangle, computed self-join-free: one user-keyed MIN
    agg for cohorts, one user-keyed join back (both sides already
    reduced/keyed by user), one distinct + count.  Week arithmetic is
    Monday-truncated dates diffed in integer days / 7, identical on
    both engines."""
    t = load_tables(spark, sf_dir)
    f = (
        t["events"]
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"))
    )
    a = (
        t["events"]
        .join(f, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_n"),
        )
        .distinct()
    )
    return a.groupBy("cohort_week", "week_n").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "ev_gapfill_hourly",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx FROM b GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
      FROM span
    ), j AS (
      SELECT g.user_id, g.bucket, b.v
      FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
    )
    SELECT user_id, bucket,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
           v IS NULL AS is_gap
    FROM j
    """,
)
def ev_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resampling with gap fill: each user's event stream
    densified onto its full hourly grid (sequence/explode), per-bucket
    exact DECIMAL sums, and last-observation-carried-forward across
    empty buckets (operators/temporal.resample_ffill) — the
    regular-grid densification feature pipelines assume, with the
    gap rows flagged."""
    from ..operators.temporal import resample_ffill

    return resample_ffill(load_tables(spark, sf_dir)["events"])


# ---------------------------------------------------------------------------
# Round-3 late additions: span-level dedup, semantic dedup, unigram-LM
# quality scoring.
# ---------------------------------------------------------------------------


@register(
    "dd_dup_ngrams",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    dfq AS (SELECT s, COUNT(*) AS n_docs_with FROM sh GROUP BY s)
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_shingles,
           ROUND(CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS dup_frac
    FROM sh JOIN dfq USING (s)
    GROUP BY doc_id
    """,
)
def dd_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram span fraction per document (Lee et al. ACL'22
    substring-dedup signal at word-shingle granularity): share of a
    doc's distinct word k-grams that occur in >= 1 other document.
    Linear two-shuffle plan over the shared cached shingle relation —
    no pair join anywhere (operators.dedup.dup_ngram_stats)."""
    from ..operators.dedup import dup_ngram_stats

    return dup_ngram_stats(_shingles(spark, sf_dir))


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assignment relation (vec_id, cell_id, embedding, norm) —
    on-disk index store entry (the N x cells argmax is the dominant
    cold cost of every inverted-file consumer: dd_semantic's pair
    sides, cur_cluster_sample's quota input, sim_ivf_topk's candidate
    restriction).  This IS the inverted file a production IVF index
    persists beside its centroids."""
    from ..operators.similarity import KMEANS_C, ivf_assignments

    return persisted(
        "ivf_assign", spark, sf_dir,
        lambda: ivf_assignments(
            load_tables(spark, sf_dir)["embeddings"], _ivf_cents(spark, sf_dir)
        ),
        params=f"iters={KMEANS_ITERS};kc={KMEANS_C}",
    )


@register(
    "dd_semantic",
    oracle=f"""
    WITH {_sql_kmeans_cents()}, c AS (
      SELECT cell_id, ce FROM kc{KMEANS_ITERS}
    ), a AS (
      SELECT e.vec_id, e.embedding, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      QUALIFY rn = 1
    ), d AS (
      SELECT DISTINCT y.vec_id
      FROM a x JOIN a y ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
      WHERE {_sql_cos('x.embedding', 'y.embedding')} >= {NEAR_DUP_COS}
    )
    SELECT a.vec_id, a.cell_id, d.vec_id IS NULL AS keep
    FROM a LEFT JOIN d ON d.vec_id = a.vec_id
    """,
)
def dd_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): drop vectors with a lower-id
    cosine>=0.2 neighbor in the SAME k-means cell — pairs enumerate
    only within ~sqrt(N)-sized cells, never across the corpus
    (operators.similarity.semantic_dedup over the cached
    ivf_assignments + kmeans_centroids relations)."""
    from ..operators.similarity import semantic_dedup

    return semantic_dedup(_ivf_assign(spark, sf_dir))


#: Per-semantic-cell quota for cur_diverse_sample.
DIVERSE_PER_CELL = 8


def _register_diverse_sample() -> None:
    oracle = f"""
    WITH {_sql_kmeans_cents()}, c AS (
      SELECT cell_id, ce FROM kc{KMEANS_ITERS}
    ), a AS (
      SELECT e.vec_id, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      QUALIFY rn = 1
    ), qc AS ({_sql_quality_classifier()})
    SELECT qc.doc_id, a.cell_id, qc.score_q,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY a.cell_id
             ORDER BY qc.score_q DESC, qc.doc_id) AS INTEGER) AS cell_rank
    FROM a JOIN qc ON a.vec_id = qc.doc_id
    QUALIFY cell_rank <= {DIVERSE_PER_CELL}
    """

    @register("cur_diverse_sample", oracle=oracle)
    def cur_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Diversity-aware quality sampling (coverage sampling): keep
        the top-k documents BY QUALITY SCORE within each semantic
        k-means cell — quality alone over-picks from dense topic
        clusters; stratifying by the IVF cell forces coverage of the
        embedding space (the SemDeDup-era recipe for pretraining-mix
        diversity).

        Cost at 100 TB: the N x sqrt(N) cell assignment is the SAME
        stored inverted file every other IVF consumer reads (zero
        marginal), quality signals fuse into the documents scan, the
        id equi-join is one linear shuffle, and the per-cell quota is
        a rank filter <= k — WindowGroupLimit, bounded shuffle."""
        from pyspark.sql import Window

        from ..operators.text import quality_classifier

        assign = _ivf_assign(spark, sf_dir).select("vec_id", "cell_id")
        qc = quality_classifier(load_tables(spark, sf_dir)["documents"]).select(
            "doc_id", "score_q"
        )
        joined = assign.join(qc, assign["vec_id"] == qc["doc_id"]).select(
            "doc_id", "cell_id", "score_q"
        )
        w = Window.partitionBy("cell_id").orderBy(
            F.col("score_q").desc(), F.col("doc_id")
        )
        return (
            joined.withColumn("cell_rank", F.row_number().over(w))
            .filter(F.col("cell_rank") <= DIVERSE_PER_CELL)
        )


_register_diverse_sample()


@register(
    "tx_surprisal",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), vocab AS (
      SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY term
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab
    ), ts AS (
      SELECT term,
             CAST(ROUND(log2(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE))
                        * {SURPRISAL_SCALE}) AS BIGINT) AS s_q
      FROM vocab, tot
    )
    SELECT tf.doc_id,
           CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf.tf * ts.s_q) AS BIGINT) AS q_millibits,
           CAST(SUM(tf.tf * ts.s_q) AS BIGINT) // CAST(SUM(tf.tf) AS BIGINT)
             AS mb_per_token
    FROM tf JOIN ts USING (term)
    GROUP BY tf.doc_id
    """,
)
def tx_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy (bits/token) per document — the cheap
    perplexity-filter stand-in; per-term surprisal is fixed-point
    quantized once so all accumulation is exact integer math
    (operators.text.unigram_surprisal).  The (doc, term, tf) relation
    is served from the persisted BM25 postings store (r13, guide §2.4
    — row-identical to re-tokenizing by construction)."""
    from ..operators.text import unigram_surprisal
    from .curation_queries import _bm25_postings

    return unigram_surprisal(_bm25_postings(spark, sf_dir))


@register(
    "dd_fuzzy_dictionary",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name AS name FROM part),
    p AS (
      SELECT name,
             list_extract(string_split(name, ' '),
                          len(string_split(name, ' '))) AS blk,
             len(name) AS L
      FROM n
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS edit_dist
    FROM p a JOIN p b ON a.blk = b.blk AND a.name < b.name
    WHERE abs(a.L - b.L) <= 2
      AND levenshtein(a.name, b.name) <= 2
    """,
)
def dd_fuzzy_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance record linkage over the distinct part-name
    dictionary (head-token blocking + sound length-band prefilter +
    thresholded Levenshtein DP — operators.dedup.fuzzy_name_pairs)."""
    from ..operators.dedup import fuzzy_name_pairs

    return fuzzy_name_pairs(load_tables(spark, sf_dir)["part"], "p_name", max_dist=2)


# ---------------------------------------------------------------------------
# Contrastive negative sampling (r8)
# ---------------------------------------------------------------------------

def _register_contrastive_negatives() -> None:
    @register(
        "pipe_contrastive_negatives",
        oracle=f"""
        WITH {_SQL_LSH_BUCKETS},
        mates AS (
          SELECT DISTINCT a.vec_id AS query_id, b.vec_id
          FROM bkts a
          JOIN bkts b ON b.tbl = a.tbl AND b.bucket = a.bucket
          WHERE a.vec_id < {N_QUERIES}
        ), cand AS (
          SELECT q.query_id, e.vec_id
          FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {N_QUERIES}) q
          CROSS JOIN (SELECT vec_id FROM embeddings) e
          WHERE e.vec_id <> q.query_id
            AND NOT EXISTS (
              SELECT 1 FROM mates m
              WHERE m.query_id = q.query_id AND m.vec_id = e.vec_id)
        )
        SELECT query_id, vec_id AS neg_id,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY md5('neg' || '|' || CAST(query_id AS VARCHAR)
                              || '|' || CAST(vec_id AS VARCHAR)), vec_id)
                 AS INTEGER) AS rnk
        FROM cand QUALIFY rnk <= {TOP_K}
        """,
    )
    def pipe_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Deterministic negative mining for contrastive training
        (operators.similarity.contrastive_negatives): per anchor, 5
        corpus vectors sharing NO LSH bucket with it in any table —
        the exact complement of the near-dup candidate sets built
        from the same persisted signature store, so no sampled
        "negative" is a vector the banding considers possibly-near.
        md5-coin selection is append-stable and engine-identical; the
        per-anchor rank filter plans a Partial WindowGroupLimit, so
        the shuffle carries k x anchors x partitions rows, never the
        anchors x corpus fan-out."""
        from ..operators.similarity import contrastive_negatives

        return contrastive_negatives(
            load_tables(spark, sf_dir)["embeddings"], _emb_buckets(spark, sf_dir)
        )


_register_contrastive_negatives()



# ---------------------------------------------------------------------------
# IVF index staleness on append
# ---------------------------------------------------------------------------

#: sim_ivf_append treats vectors with vec_id % MOD == RESIDUE as the
#: post-build append (~20% of the corpus arrives after the index was
#: trained).  RESIDUE is 3, NOT 0: the k-means sample strides over
#: multiples of ss, and ss divides into multiples of 5 at several
#: corpus sizes — excluding residue 0 would empty the training sample
#: (measured: zero centroids at sf0.01), where residue 3 removes only
#: non-sample ids.
IVF_APPEND_MOD = 5
IVF_APPEND_RESIDUE = 3


def _register_sim_ivf_append() -> None:
    kcte = _sql_kmeans_cents().replace("FROM embeddings", "FROM ivfa_base")
    oracle = f"""
    WITH ivfa_base AS (
      SELECT * FROM embeddings
      WHERE vec_id % {IVF_APPEND_MOD} <> {IVF_APPEND_RESIDUE}
    ), {kcte},
    allv AS (
      SELECT vec_id,
             vec_id % {IVF_APPEND_MOD} = {IVF_APPEND_RESIDUE} AS is_new,
             list_transform(embedding, x -> x::DOUBLE) AS se
      FROM embeddings
    ), asg AS (
      SELECT v.vec_id, v.is_new, c.cell_id,
             CAST(ROUND({_sql_cos("v.se", "c.ce")} * 1000000) AS BIGINT)
               AS sim_q,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
               ORDER BY {_sql_cos("v.se", "c.ce")} DESC, c.cell_id) AS rn
      FROM allv v, kc{KMEANS_ITERS} c QUALIFY rn = 1
    )
    SELECT cell_id,
           CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
             AS n_appended,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS appended_share_q,
           CAST(SUM(CASE WHEN is_new THEN sim_q ELSE 0 END)
                // NULLIF(SUM(CASE WHEN is_new THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS mean_new_sim_q
    FROM asg GROUP BY cell_id
    """

    @register("sim_ivf_append", oracle=oracle)
    def sim_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF index staleness audit: centroids are trained on the
        BASE 80% of the corpus only (vec_id % 5 != 3 — the state of
        the index before an append), then EVERY vector — base and the
        20% that arrived after training — is assigned to its nearest
        stale centroid.  Per cell: base/appended occupancy, the
        appended share (hot cells mean the append is drifting into a
        region the index under-represents -> retrain trigger), and the
        appended vectors' mean centroid cosine in 1e-6 fixed point
        (integer-summed so the mean is order-independent and under the
        exact gate).  This is the maintenance decision a 100 TB vector
        store actually faces: appends ride the existing index at
        ~sqrt(N)-broadcast assignment cost (no retrain, no corpus
        reshuffle) until the audit says the cells no longer fit.
        Plan: k-means bounded by the sample as always; assignment is
        one broadcast-centroid argmax over the corpus — the same
        linear pass sim_ivf_topk's file build does."""
        from ..operators.similarity import KMEANS_C, _cos, _norm, kmeans_centroids

        emb = load_tables(spark, sf_dir)["embeddings"]
        base = emb.filter(
            F.col("vec_id") % IVF_APPEND_MOD != IVF_APPEND_RESIDUE
        )

        # the STALE centroid relation is an index artifact like
        # _ivf_cents: trained once per corpus version, store-served
        # after (production keeps exactly this — the pre-append index).
        # The base count lives INSIDE the build lambda (r11 review: it
        # ran eagerly before the fingerprint check, paying a corpus
        # count job even on a warm store hit).
        def _build_cents():
            return kmeans_centroids(
                base, memo("ivf_append_nbase", spark, sf_dir, base.count)
            )

        cents = persisted(
            "ivf_append_cents", spark, sf_dir, _build_cents,
            params=f"iters={KMEANS_ITERS};mod={IVF_APPEND_MOD};"
                   f"res={IVF_APPEND_RESIDUE};kc={KMEANS_C}",
        )
        v = emb.select(
            "vec_id",
            (F.col("vec_id") % IVF_APPEND_MOD == IVF_APPEND_RESIDUE).alias(
                "is_new"
            ),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("se"),
        ).withColumn("s_norm", _norm("se"))
        # map-side max_by combine, NOT a window top-1: the argmax
        # shrinks the N x cells scored relation back to N rows BEFORE
        # any shuffle, and nothing is sorted (r11 review — the window
        # form shuffled and sorted all N x cells rows, the exact shape
        # operators.similarity.ivf_assignments documents avoiding).
        # Tie-break identical: highest sim, then lowest cell_id.
        asg = (
            v.crossJoin(F.broadcast(cents))
            .withColumn("sim", _cos("se", "c_emb", "s_norm", "c_norm"))
            .groupBy("vec_id")
            .agg(
                F.expr(
                    "max_by(struct(cell_id, is_new, sim), struct(sim, -cell_id))"
                ).alias("m")
            )
            .select(
                F.col("m.cell_id").alias("cell_id"),
                F.col("m.is_new").alias("is_new"),
                F.round(F.col("m.sim") * 1000000).cast("bigint").alias("sim_q"),
            )
        )
        is_new_l = F.col("is_new").cast("bigint")
        return asg.groupBy("cell_id").agg(
            F.sum(F.lit(1) - is_new_l).alias("n_base"),
            F.sum(is_new_l).alias("n_appended"),
            F.expr(
                "CAST(sum(CAST(is_new AS BIGINT)) * 10000 DIV count(1) AS BIGINT)"
            ).alias("appended_share_q"),
            F.expr(
                "CAST(sum(CASE WHEN is_new THEN sim_q ELSE 0 END)"
                " DIV nullif(sum(CAST(is_new AS BIGINT)), 0) AS BIGINT)"
            ).alias("mean_new_sim_q"),
        )


_register_sim_ivf_append()


# ---------------------------------------------------------------------------
# Embedding outlier audit (distance-to-centroid z-scores)
# ---------------------------------------------------------------------------

#: sim_outlier_audit reports the N most anomalous vectors.
OUTLIER_TOP_N = 20


def _register_sim_outlier_audit() -> None:
    mu = "s1 / CAST(n AS DOUBLE)"
    var = f"s2 / CAST(n AS DOUBLE) - ({mu}) * ({mu})"
    oracle = f"""
    WITH {_sql_kmeans_cents()}, c AS (
      SELECT cell_id, ce FROM kc{KMEANS_ITERS}
    ), a AS (
      SELECT e.vec_id, c.cell_id,
             CAST(ROUND({_sql_cos('e.embedding', 'c.ce')} * 1000000)
                  AS BIGINT) AS sim_q,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cos('e.embedding', 'c.ce')} DESC, c.cell_id) AS rn
      FROM embeddings e, c
      QUALIFY rn = 1
    ), st AS (
      SELECT cell_id, CAST(SUM(sim_q) AS BIGINT) AS s1,
             CAST(SUM(sim_q * sim_q) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM a GROUP BY cell_id
    )
    SELECT a.vec_id, a.cell_id, a.sim_q,
           CASE WHEN {var} > 0
                THEN ROUND((a.sim_q - {mu}) / SQRT({var}), 4)
                ELSE 0.0 END AS z
    FROM a JOIN st USING (cell_id)
    ORDER BY z ASC, a.vec_id ASC LIMIT {OUTLIER_TOP_N}
    """

    @register("sim_outlier_audit", oracle=oracle)
    def sim_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Embedding-space outlier audit: the 20 vectors most anomalous
        within their own IVF cell, by z-score of the (1e-6 fixed-point)
        centroid cosine against the cell's integer sufficient
        statistics — the data-quality sweep that surfaces mislabeled /
        corrupted / off-distribution embeddings BEFORE they poison
        near-dup thresholds and retrieval (SemDeDup's complement:
        dd_semantic prunes the too-close, this flags the too-far).
        z-scores derive from exact int64 (sum, sum-of-squares, count)
        per cell — the ev_anomaly_hours portability pattern — so both
        engines divide identical integers into identical doubles.
        Plan: the stored inverted file joins the broadcast centroid
        relation for one narrow cosine recompute (zero marginal
        assignment cost), the stats aggregate is cells-sized, and the
        top-20 is a TakeOrderedAndProject — no corpus sort."""
        from ..operators.similarity import _cos

        asg = _ivf_assign(spark, sf_dir)
        cents = _ivf_cents(spark, sf_dir)
        a = asg.join(F.broadcast(cents), "cell_id").select(
            "vec_id",
            "cell_id",
            F.round(_cos("embedding", "c_emb", "norm", "c_norm") * 1000000)
            .cast("bigint")
            .alias("sim_q"),
        )
        st = a.groupBy("cell_id").agg(
            F.sum("sim_q").alias("s1"),
            F.sum(F.col("sim_q") * F.col("sim_q")).alias("s2"),
            F.count(F.lit(1)).alias("n"),
        )
        n_d = F.col("n").cast("double")
        mu = F.col("s1") / n_d
        var = F.col("s2") / n_d - mu * mu
        return (
            a.join(F.broadcast(st), "cell_id")
            .select(
                "vec_id",
                "cell_id",
                "sim_q",
                F.when(var > 0, F.round((F.col("sim_q") - mu) / F.sqrt(var), 4))
                .otherwise(F.lit(0.0))
                .alias("z"),
            )
            # nulls LAST: a zero-norm vector has NULL sim_q hence NULL
            # z — undefined anomaly, not "most anomalous"; Spark's asc
            # default (nulls first) would put it at the head of the
            # top-20 while DuckDB's (nulls last) drops it (fuzz gate
            # edge corpus, r12)
            .orderBy(F.col("z").asc_nulls_last(), F.col("vec_id").asc())
            .limit(OUTLIER_TOP_N)
        )


_register_sim_outlier_audit()


def _sql_soft_quality() -> str:
    coin = (
        "CAST('0x' || substr(md5('softq|' || CAST(doc_id AS VARCHAR)), 1, 4)"
        " AS BIGINT)"
    )
    return f"""
    WITH qc AS ({_sql_quality_classifier()})
    SELECT doc_id, CAST(score_q AS BIGINT) AS score_q FROM qc
    WHERE {coin} * 10000 < CAST(score_q AS BIGINT) * 65536
    """


@register("cur_soft_quality_sample", oracle=_sql_soft_quality())
def cur_soft_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filtering: each document's keep PROBABILITY is its
    own quality score (score_q/10000) — the continuous CCNet-style
    reweighting, where cur_curriculum_sample's three fixed tier rates
    are the stepped approximation.  The coin is exact integer
    arithmetic on both engines: keep iff
    md5_bucket(doc_id) * 10000 < score_q * 65536 (bucket uniform on
    0..65535), so membership is content-addressed — stable under
    appends, re-runs, and any partitioning — and the achieved keep
    rate converges to the corpus's mean quality.  Like the curriculum,
    the classifier signals, score and coin all fuse into ONE
    zero-shuffle codegen stage over the scan; there is no sort, no
    sample(), no RNG state anywhere."""
    from ..operators.text import quality_classifier

    qc = quality_classifier(load_tables(spark, sf_dir)["documents"]).select(
        "doc_id", F.col("score_q").cast("bigint").alias("score_q")
    )
    coin = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("softq|"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    return qc.filter(coin * 10000 < F.col("score_q") * 65536)
