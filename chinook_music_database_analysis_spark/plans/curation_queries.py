"""Registered curation queries: sampling, splits, PII redaction,
boilerplate, decontamination, canonical-doc selection, corpus rollup.

Registry glue for :mod:`..operators.curation` — same contract as
extensions.py: every query ships a DuckDB oracle built from the same
md5/threshold literals the Spark side uses (interpolated from shared
constants/functions, so the two dialects cannot drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memo
from ..operators.curation import (
    CONTAM_MIN_RATIO,
    DECONTAM_K,
    PII_RULES,
    benchmark_contamination,
    boilerplate_score,
    canonical_docs,
    domain_cap,
    hash_sample,
    line_dedup,
    pct_threshold,
    redact_pii,
    train_val_test_split,
)
from ..operators.text import IDF_SCALE, shingles_from_tokens, tokens_expr
from ..sources import load_tables
from ..store import persisted
from .extensions import (
    _SQL_BANDS,
    _SQL_CAND,
    _SQL_SHINGLES,
    _SQL_SIG,
    _cand_pairs,
    _dup_clusters,
)
from .registry import register

SAMPLE_PCT = 20.0
VAL_PCT = 10.0
TEST_PCT = 10.0
BENCH_PCT = 5.0

#: Boilerplate = bigram in >= 5% of docs (integer-exact ceil both
#: dialects: (n*5 + 99) // 100).  Bigrams, not the dedup 3-grams: the
#: synthetic corpus's short template phrases repeat at bigram grain.
BOILER_K = 2
BOILER_PCT_NUM = 5


def _doc_count(spark: SparkSession, sf_dir: str) -> int:
    """Corpus size for the relative boilerplate threshold, counted once
    per (session, table set) — same stats-collection pattern as the ANN
    parameter derivation in extensions."""
    return memo(
        "doc_count", spark, sf_dir,
        lambda: load_tables(spark, sf_dir)["documents"].count(),
    )


def _sql_shingles_k(k: int, alias: str = "wsh") -> str:
    """DuckDB distinct (doc_id, k-gram) CTE for arbitrary k (the shared
    _SQL_SHINGLES is fixed at the dedup family's k=3).  NULL text is
    filtered for the same reason as _SQL_SHINGLES: no shingles for a
    null-text doc, matching shingles_from_tokens (fuzz gate, r12)."""
    return (
        f"{alias} AS (SELECT DISTINCT doc_id, "
        f"unnest([array_to_string(toks[i:i+{k - 1}], ' ') "
        f"for i in range(1, greatest(len(toks) - {k - 1}, 1) + 1)]) AS s "
        "FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks "
        "FROM documents WHERE text IS NOT NULL))"
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / splits
# ---------------------------------------------------------------------------


@register(
    "cur_sample",
    oracle=(
        "SELECT doc_id, source, n_chars FROM documents "
        "WHERE substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 4) < "
        f"'{pct_threshold(SAMPLE_PCT)}'"
    ),
)
def cur_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed ~20% sample (stable under re-runs/appends —
    membership is a function of doc_id, unlike seeded df.sample)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return hash_sample(docs, "doc_id", SAMPLE_PCT).select("doc_id", "source", "n_chars")


@register(
    "cur_split",
    oracle=(
        "SELECT doc_id, CASE "
        f"WHEN h < '{pct_threshold(TEST_PCT)}' THEN 'test' "
        f"WHEN h < '{pct_threshold(TEST_PCT + VAL_PCT)}' THEN 'val' "
        "ELSE 'train' END AS split "
        "FROM (SELECT doc_id, substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) "
        "AS h FROM documents)"
    ),
)
def cur_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~80/10/10)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return train_val_test_split(docs, "doc_id", VAL_PCT, TEST_PCT).select(
        "doc_id", "split"
    )


#: Per-source quota for cur_domain_cap (20 flat sources × 25 docs at
#: sf0.01 → keeps 10 of each; on a Zipf-skewed crawl the cap is what
#: stops one domain from dominating the mix).
DOMAIN_CAP = 10


@register(
    "cur_domain_cap",
    oracle=(
        "SELECT doc_id, source, cap_rank FROM ("
        "SELECT doc_id, source, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY source "
        "ORDER BY md5('domaincap|' || CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) "
        "AS cap_rank FROM documents) "
        f"WHERE cap_rank <= {DOMAIN_CAP}"
    ),
)
def cur_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-source quota: keep at most DOMAIN_CAP docs
    per source, selected by content-addressed md5 priority
    (operators.curation.domain_cap).  Rank-filter plans as
    WindowGroupLimit — partial per-partition top-k before the exchange,
    so a mega-domain can't flood one reducer at 100 TB."""
    docs = load_tables(spark, sf_dir)["documents"]
    return domain_cap(docs, "source", "doc_id", DOMAIN_CAP).select(
        "doc_id", "source", "cap_rank"
    )


#: C4-style line-dedup knobs: non-overlapping 8-token segments stand in
#: for lines (the synthetic corpus has no newlines); a segment in >= 2
#: distinct docs is template text and is removed from every doc.
LINE_SEG_K = 8
LINE_MIN_DF = 2


@register(
    "cur_line_dedup",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), seg AS (
      SELECT doc_id, u.pos AS pos, u.s AS s FROM (
        SELECT doc_id,
               unnest([{{'pos': i,
                         's': array_to_string(toks[i*{LINE_SEG_K}+1:i*{LINE_SEG_K}+{LINE_SEG_K}], ' ')}}
                       for i in range(0, (len(toks)-1)//{LINE_SEG_K} + 1)]) AS u
        FROM d)
    ), dup AS (
      SELECT s, TRUE AS dup0 FROM seg
      GROUP BY s HAVING COUNT(DISTINCT doc_id) >= {LINE_MIN_DF}
    ), fl AS (
      SELECT seg.doc_id, seg.pos, seg.s, COALESCE(dup.dup0, FALSE) AS is_dup
      FROM seg LEFT JOIN dup USING (s)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CAST(is_dup AS INT)) AS BIGINT) AS n_dropped,
           COALESCE(string_agg(s, ' ' ORDER BY pos)
                      FILTER (WHERE NOT is_dup), '') AS clean_text
    FROM fl GROUP BY doc_id
    """,
)
def cur_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup with remediation
    (operators.curation.line_dedup): drop every 8-token segment shared
    by >= 2 docs and rebuild each document's cleaned text in original
    segment order.  One segment-keyed shuffle (df agg), broadcast
    dictionary back over the corpus, one doc-keyed rebuild shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    return line_dedup(docs, LINE_SEG_K, LINE_MIN_DF)


def _sql_corpus_health() -> str:
    from ..operators.text import (
        QC_LEN_CAP,
        QC_LEN_SCALE,
        QC_W_LEN,
        QC_W_STOP,
        QC_W_UNIQUE,
    )
    from .extensions import _SW_EN

    return f"""
    WITH d AS (
      SELECT doc_id, source, lang,
             md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS content_hash,
             string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, source, lang, content_hash, len(toks) AS n_tokens,
             (CAST(len(list_distinct(toks)) AS BIGINT) * 10000) // len(toks) AS unique_q,
             (CAST(len(list_filter(toks, t -> t IN ({_SW_EN}))) AS BIGINT) * 10000)
               // len(toks) AS stop_q,
             CAST(least(len(toks), {QC_LEN_CAP}) AS BIGINT) * {QC_LEN_SCALE} AS len_q
      FROM d
    ), q AS (
      SELECT *, ({QC_W_UNIQUE} * unique_q + {QC_W_STOP} * stop_q
                 + {QC_W_LEN} * len_q) // 10 AS score_q
      FROM s
    ), f AS (
      SELECT *, COUNT(*) OVER (PARTITION BY content_hash) > 1 AS is_dup FROM q
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(is_dup AS INT)) AS BIGINT) AS n_dup_docs,
           CAST((SUM(CAST(is_dup AS INT)) * 10000) // COUNT(*) AS BIGINT) AS dup_pct_q,
           CAST(SUM(score_q) // COUNT(*) AS BIGINT) AS avg_score_q,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM f GROUP BY source
    """


@register("cur_corpus_health", oracle=_sql_corpus_health())
def cur_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard: doc and token volume, exact
    content-hash dup rate, mean quality score (both 1e4 fixed point),
    and language spread — the single-pane rollup a data-ops team
    watches per ingestion source.

    One scan computes hash + quality signals fused (quality_classifier
    ``carry`` threads source/lang/hash through the scorer's codegen
    stage); then one content_hash-keyed window flags dups and one
    source-keyed aggregate rolls up — two bounded linear shuffles, no
    joins, no collect.  All ratios integer-quantized, so the dashboard
    is bit-identical however the corpus is partitioned."""
    from pyspark.sql import Window

    from ..operators.text import quality_classifier

    docs = load_tables(spark, sf_dir)["documents"].withColumn(
        "content_hash",
        F.md5(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")),
    )
    qc = quality_classifier(docs, carry=("source", "lang", "content_hash"))
    flagged = qc.withColumn(
        "is_dup", F.count(F.lit(1)).over(Window.partitionBy("content_hash")) > 1
    )
    g = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_dup").cast("int")).cast("bigint").alias("n_dup_docs"),
        F.sum("score_q").alias("score_sum"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_dup_docs",
        F.expr("(n_dup_docs * 10000) div n_docs").alias("dup_pct_q"),
        F.expr("score_sum div n_docs").alias("avg_score_q"),
        "total_tokens",
        "n_langs",
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: The synthetic corpus carries no PII, so the query injects a
#: deterministic email/phone/IP per doc before redacting — the operator
#: must visibly remove them (n_redacted >= 3 per doc), not no-op.
_AUG_SPARK = (
    "concat(text, ' contact user', CAST(doc_id AS STRING), "
    "'@mail.example or 415-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), "
    "' from 10.0.', CAST(doc_id % 256 AS STRING), '.7')"
)
_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@mail.example or 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "|| ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
)


def _pii_oracle() -> str:
    # staged counts in lockstep with operators.curation.redact_pii
    # (r11): rule i counts against the text with rules 0..i-1 already
    # applied, so n_redacted == replacements performed even when two
    # rules' patterns overlap on the raw text
    counts, clean = [], "text"
    for pat, rep in PII_RULES:
        counts.append(f"len(regexp_extract_all({clean}, '{pat}'))")
        clean = f"regexp_replace({clean}, '{pat}', '{rep}', 'g')"
    return (
        f"WITH aug AS (SELECT doc_id, {_AUG_SQL} AS text FROM documents) "
        f"SELECT doc_id, {' + '.join(counts)} AS n_redacted, "
        f"{clean} AS clean_text FROM aug"
    )


@register("cur_pii_redact", oracle=_pii_oracle())
def cur_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails, phones, IPv4) over PII-injected
    docs.  Narrow map, one codegen stage, no shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    aug = docs.select("doc_id", F.expr(_AUG_SPARK).alias("text"))
    return redact_pii(aug).select("doc_id", "n_redacted", "clean_text")


# ---------------------------------------------------------------------------
# Boilerplate / decontamination / canonicalization
# ---------------------------------------------------------------------------


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, bigram) relation — on-disk index store entry
    shared by the boilerplate filter and the keyphrase extractor."""
    return persisted(
        "doc_bigrams",
        spark,
        sf_dir,
        lambda: load_tables(spark, sf_dir)["documents"]
        .select("doc_id", tokens_expr().alias("toks"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles_from_tokens(k=BOILER_K))).alias("s"),
        ),
        table="documents",
        params=f"k={BOILER_K}",
    )


@register(
    "cur_boilerplate",
    oracle=(
        f"WITH {_sql_shingles_k(BOILER_K, 'sh2')}, "
        "dfr AS (SELECT s, COUNT(*) >= "
        f"(SELECT (COUNT(*) * {BOILER_PCT_NUM} + 99) // 100 FROM documents) "
        "AS is_boiler FROM sh2 GROUP BY s) "
        "SELECT doc_id, COUNT(*) AS n_shingles, "
        "CAST(SUM(CAST(is_boiler AS INT)) AS BIGINT) AS n_boiler, "
        "ROUND(CAST(SUM(CAST(is_boiler AS INT)) AS DOUBLE) "
        "/ CAST(COUNT(*) AS DOUBLE), 4) AS boiler_ratio "
        "FROM sh2 JOIN dfr USING (s) GROUP BY doc_id"
    ),
)
def cur_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate ratio (bigram document frequency >= 5% of
    corpus — C4's repeated-line filter at n-gram grain).  The final
    per-doc score relation is itself store-served (the materialized
    corpus-stats table a production curation pipeline keeps beside the
    corpus): a cold session pays ONE parquet read; the first build per
    corpus version reads the store-served bigram relation + template
    dictionary (_boiler_set) and runs one broadcast join + one agg."""

    def _build() -> DataFrame:
        return boilerplate_score(
            _doc_bigrams(spark, sf_dir), _boiler_set(spark, sf_dir)
        )

    return persisted(
        "boiler_scores",
        spark,
        sf_dir,
        _build,
        table="documents",
        params=f"k={BOILER_K},pct={BOILER_PCT_NUM}",
    )


def _boiler_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate bigram dictionary — on-disk index store entry (the
    corpus-wide DF aggregation is cur_boilerplate's dominant cold
    cost; the dictionary itself is tiny by construction of min_df)."""
    from ..operators.curation import boilerplate_set

    return persisted(
        "boiler_set",
        spark,
        sf_dir,
        lambda: boilerplate_set(
            _doc_bigrams(spark, sf_dir),
            (_doc_count(spark, sf_dir) * BOILER_PCT_NUM + 99) // 100,
        ),
        table="documents",
        params=f"k={BOILER_K},pct={BOILER_PCT_NUM}",
    )


@register(
    "cur_decontam",
    oracle=(
        f"WITH {_sql_shingles_k(DECONTAM_K)}, "
        "b AS (SELECT doc_id, "
        f"substr(md5('bench|' || CAST(doc_id AS VARCHAR)), 1, 4) < "
        f"'{pct_threshold(BENCH_PCT)}' AS is_bench FROM documents), "
        "bs AS (SELECT DISTINCT s FROM wsh JOIN b USING (doc_id) WHERE is_bench) "
        "SELECT doc_id, COUNT(*) AS n_overlap "
        "FROM wsh JOIN b USING (doc_id) JOIN bs USING (s) "
        "WHERE NOT is_bench GROUP BY doc_id"
    ),
)
def cur_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing an 8-gram with the held-out benchmark
    sample — the pre-training decontamination sweep.  Benchmark shingle
    set is broadcast; the corpus is never shuffled pre-agg."""
    docs = load_tables(spark, sf_dir)["documents"]
    return benchmark_contamination(docs, bench_pct=BENCH_PCT)


@register(
    "cur_contamination_report",
    oracle=(
        f"WITH {_sql_shingles_k(DECONTAM_K)}, "
        "b AS (SELECT doc_id, "
        f"substr(md5('bench|' || CAST(doc_id AS VARCHAR)), 1, 4) < "
        f"'{pct_threshold(BENCH_PCT)}' AS is_bench FROM documents), "
        "bs AS (SELECT DISTINCT s FROM wsh JOIN b USING (doc_id) WHERE is_bench) "
        "SELECT w.doc_id, "
        "COUNT(*) AS n_shingles, "
        "CAST(SUM(CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_overlap, "
        "ROUND(CAST(SUM(CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) "
        "/ CAST(COUNT(*) AS DOUBLE), 4) AS contamination, "
        "CAST(SUM(CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) "
        f"/ CAST(COUNT(*) AS DOUBLE) >= {CONTAM_MIN_RATIO} AS is_contaminated "
        "FROM wsh w JOIN b USING (doc_id) LEFT JOIN bs ON bs.s = w.s "
        "WHERE NOT b.is_bench GROUP BY w.doc_id"
    ),
)
def cur_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full per-document contamination audit (every training doc, not
    just the contaminated survivors cur_decontam emits): distinct
    8-gram count, benchmark-overlap count/ratio, and the >= 5% drop
    verdict — broadcast benchmark set, per-row shingle dedup, one
    doc-keyed shuffle (operators.curation.contamination_report)."""
    from ..operators.curation import contamination_report

    docs = load_tables(spark, sf_dir)["documents"]
    return contamination_report(docs, bench_pct=BENCH_PCT)


def _register_tx_keyphrases() -> None:
    oracle = (
        f"WITH {_sql_shingles_k(BOILER_K, 'sh2')}, "
        "dfr AS (SELECT s, COUNT(*) AS df FROM sh2 GROUP BY s), "
        "r AS (SELECT sh2.doc_id, sh2.s, dfr.df, "
        "ROW_NUMBER() OVER (PARTITION BY sh2.doc_id "
        "ORDER BY dfr.df ASC, sh2.s ASC) AS rn "
        "FROM sh2 JOIN dfr USING (s)) "
        "SELECT doc_id, s AS keyphrase, CAST(df AS BIGINT) AS df "
        "FROM r WHERE rn = 1"
    )

    @register("tx_keyphrases", oracle=oracle)
    def tx_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Rarest-phrase keyphrase per document: the bigram with the
        lowest corpus document frequency (ties broken lexicographically)
        — the inverse-document-frequency keyphrase heuristic computed
        entirely from the shared bigram index store: one DF aggregate
        over the stored relation, a broadcast-sized (bigram, df) join
        back, and a per-doc WindowGroupLimit top-1.  No tokenization
        re-runs — both consumers of the bigram relation (boilerplate,
        keyphrases) read the same persisted store."""
        from pyspark.sql import Window

        sh2 = _doc_bigrams(spark, sf_dir)
        dfr = sh2.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
        return (
            sh2.join(dfr, "s")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("s").alias("keyphrase"), "df")
        )


_register_tx_keyphrases()


@register(
    "dd_canonical",
    oracle=(
        f"WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND}, "
        "e AS (SELECT doc_a AS src, doc_b AS dst FROM cand "
        "UNION ALL SELECT doc_b, doc_a FROM cand), "
        "walk(doc_id, lbl) AS (SELECT src, src FROM e "
        "UNION SELECT e.src, w.lbl FROM walk w JOIN e ON e.dst = w.doc_id), "
        "cl AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY doc_id) "
        "SELECT d.doc_id, d.source, d.n_chars FROM documents d "
        "WHERE d.doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id != cluster_id)"
    ),
)
def dd_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus after near-dup removal: one representative (min doc_id)
    kept per LSH cluster.  Completes the dedup family: detect
    (dd_minhash_pairs) -> cluster (dd_dup_clusters) -> canonicalize."""
    docs = load_tables(spark, sf_dir)["documents"]
    clusters = _dup_clusters(spark, sf_dir)
    return canonical_docs(docs, clusters).select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# Corpus stats rollup (exact percentiles)
# ---------------------------------------------------------------------------


@register(
    "cur_stats_rollup",
    oracle=(
        "WITH d AS (SELECT source, "
        "len(string_split_regex(trim(text), '\\s+')) AS n_tokens, n_chars "
        "FROM documents) "
        "SELECT source, COUNT(*) AS n_docs, "
        "CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens, "
        "ROUND(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens, "
        "ROUND(quantile_cont(n_tokens, 0.95), 4) AS p95_tokens, "
        "ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars "
        "FROM d GROUP BY source"
    ),
)
def cur_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: doc/token counts + exact interpolated
    token-count percentiles (Spark `percentile` == DuckDB
    quantile_cont).  One hash-agg shuffle on a low-cardinality key;
    exact percentile holds per-group values — at 100 TB grain swap in
    approx_percentile and loosen the oracle to tolerance."""
    docs = load_tables(spark, sf_dir)["documents"]
    d = docs.select(
        "source", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"), "n_chars"
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.95)"), 4).alias("p95_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Domain mixing / sequence packing / TF-IDF keywords
# ---------------------------------------------------------------------------

#: Training-mixture rates: guaranteed+fractional upsample, pure
#: fractional upsample, downsample, full drop; unlisted sources pass
#: through at the default 1.0.
MIX_RATES: dict[str, float] = {"src0": 2.5, "src1": 1.25, "src2": 0.6, "src3": 0.0}
MIX_DEFAULT = 1.0

#: Context window for pack_sequences (tokens per training sequence).
PACK_CTX = 2048


def _mix_oracle() -> str:
    """DuckDB mirror of operators.curation.domain_mix built from the
    SAME rates dict + pct_threshold helper, so dialects cannot drift."""
    base_arms = " ".join(
        f"WHEN '{s}' THEN {int(r)}" for s, r in MIX_RATES.items()
    )
    frac_arms = " ".join(
        f"WHEN '{s}' THEN '{pct_threshold(round((r - int(r)) * 100, 6))}'"
        for s, r in MIX_RATES.items()
    )
    d_base = int(MIX_DEFAULT)
    d_frac = pct_threshold(round((MIX_DEFAULT - int(MIX_DEFAULT)) * 100, 6))
    return (
        "WITH r AS (SELECT doc_id, source, "
        f"CASE source {base_arms} ELSE {d_base} END AS n_base, "
        f"CASE source {frac_arms} ELSE '{d_frac}' END AS frac_t, "
        "substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 4) AS h FROM documents), "
        "c AS (SELECT doc_id, source, n_base + CAST(h < frac_t AS INT) AS n_copies FROM r) "
        "SELECT doc_id, source, unnest(range(n_copies)) AS epoch "
        "FROM c WHERE n_copies > 0"
    )


@register("cur_mix", oracle=_mix_oracle())
def cur_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted training mixture: per-source up/down-sampling
    with a deterministic epoch index per copy.  Narrow map + bounded
    explode; no shuffle."""
    from ..operators.curation import domain_mix

    docs = load_tables(spark, sf_dir)["documents"]
    return domain_mix(docs, MIX_RATES, default_rate=MIX_DEFAULT).select(
        "doc_id", "source", "epoch"
    )


@register(
    "cur_pack",
    oracle=(
        "WITH c AS (SELECT doc_id, "
        "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens "
        "FROM documents), "
        "cum AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER "
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "AS BIGINT) AS cum_before FROM c) "
        f"SELECT doc_id, n_tokens, cum_before // {PACK_CTX} AS pack_id, "
        f"cum_before % {PACK_CTX} AS pack_offset FROM cum"
    ),
)
def cur_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing map (doc -> context window).
    Two-level distributed prefix sum — the oracle's single global
    window is exactly what the operator avoids at scale."""
    from ..operators.curation import pack_sequences

    docs = load_tables(spark, sf_dir)["documents"]
    return pack_sequences(docs, ctx_len=PACK_CTX)


@register(
    "tx_tfidf",
    oracle=(
        "WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) "
        "AS term FROM documents), "
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term), "
        f"idf AS (SELECT term, (SELECT COUNT(*) FROM documents) * {IDF_SCALE} // COUNT(*) "
        "AS idf_q FROM tf GROUP BY term), "
        "s AS (SELECT doc_id, term, tf, tf * idf_q AS score FROM tf JOIN idf USING (term)) "
        "SELECT doc_id, term, tf, score, rnk FROM (SELECT *, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) "
        "AS INTEGER) AS rnk FROM s) WHERE rnk <= 3"
    ),
)
def tx_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (integer-quantized IDF so
    both engines rank in exact int64 arithmetic).  The (doc, term, tf)
    relation is served from the persisted BM25 postings store (r13,
    guide §2.4 — row-identical to re-tokenizing by construction), so
    each execution is a postings scan + two hash-aggs + the top-k
    window, never a corpus re-tokenization."""
    from ..operators.text import tfidf_top_terms

    return tfidf_top_terms(
        _bm25_postings(spark, sf_dir), n_docs=_doc_count(spark, sf_dir), top_k=3
    )


@register(
    "cur_stats_approx",
    oracle=(
        "WITH d AS (SELECT source, "
        "len(string_split_regex(trim(text), '\\s+')) AS n_tokens FROM documents) "
        "SELECT source, COUNT(*) AS n_docs, "
        "ROUND(quantile_cont(n_tokens, 0.5), 4) AS exact_p50, "
        "TRUE AS approx_within_tol FROM d GROUP BY source"
    ),
)
def cur_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-source median token count via approx_percentile
    (the Greenwald-Khanna sketch — the 100 TB path where exact
    percentile's per-group value buffering is too expensive).

    Sketch outputs are engine-specific, so the tolerance is folded
    INTO the result and the oracle asserts the boolean.  The check is
    the sketch's ACTUAL guarantee — a RANK bound, not a value bound:
    the returned element's rank among the group's non-null values must
    be within eps*N (+1 slack for rank-convention off-by-one) of the
    target rank.  The previous value-based bound (|approx - exact
    interpolated| <= max(8%, 4)) silently assumed dense values: an
    element-returning sketch differs from the interpolated median by
    the LOCAL INTER-ELEMENT GAP, which is data-dependent and unbounded
    (a 13-wide gap at the median flipped it on the fuzz gate's NULL
    corpus, r12).  A production user reads the approx column alone;
    the exact column here is the verification harness.

    The rank check needs one extra bounded pass: the O(domains)
    per-source approx values broadcast back onto the corpus (null-safe
    on source — NULL source is a real group) for a count-below /
    count-at-or-below aggregate.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    d = docs.select(
        "source", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("n_tokens").alias("nn"),
        F.expr("approx_percentile(n_tokens, 0.5, 10000)").alias("approx_p50"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 4).alias("exact_p50"),
    )
    apx = F.broadcast(
        agg.select(
            F.col("source").alias("_src"), "nn", "approx_p50", "n_docs", "exact_p50"
        )
    )
    # INNER join: every apx group derives from d, so nothing is lost,
    # and inner (unlike right-outer) lets the broadcast hint build on
    # the tiny apx side — right-outer would silently degrade to a
    # corpus shuffle
    ranks = (
        d.join(apx, F.col("source").eqNullSafe(F.col("_src")))
        .groupBy("_src", "nn", "approx_p50", "n_docs", "exact_p50")
        .agg(
            F.coalesce(
                F.sum((F.col("n_tokens") < F.col("approx_p50")).cast("bigint")),
                F.lit(0),
            ).alias("r_lo"),
            F.coalesce(
                F.sum((F.col("n_tokens") <= F.col("approx_p50")).cast("bigint")),
                F.lit(0),
            ).alias("r_hi"),
        )
    )
    target = F.ceil(F.col("nn") * 0.5)
    slack = F.ceil(F.col("nn") * 0.0001) + F.lit(1)
    within = (F.col("r_lo") < target + slack) & (F.col("r_hi") >= target - slack)
    return ranks.select(
        F.col("_src").alias("source"),
        "n_docs",
        "exact_p50",
        # vacuously true when the group has no non-null values (the
        # sketch returns NULL and there is no rank to violate)
        F.coalesce(within, F.col("nn") == 0).alias("approx_within_tol"),
    )


@register(
    "dd_incremental",
    oracle=(
        f"WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND} "
        "SELECT doc_a, doc_b FROM cand "
        "WHERE doc_b >= (SELECT (COUNT(*) * 8) // 10 FROM documents)"
    ),
)
def dd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates of the newest 20% ingest batch vs the whole
    corpus: probe-side = batch bands only, store-side = the persisted
    band table (here the shared cached relation).  The oracle states
    the same set as the full pair relation filtered to pairs whose
    newer member is in the batch."""
    from ..operators.dedup import incremental_candidate_pairs
    from .extensions import _bands

    n = _doc_count(spark, sf_dir)
    return incremental_candidate_pairs(_bands(spark, sf_dir), (n * 8) // 10)


#: minimum token count a doc needs to enter the training set.
TRAIN_MIN_TOKENS = 10


@register(
    "pipe_training_set",
    oracle=(
        "WITH h AS (SELECT doc_id, text, "
        "md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ch, "
        "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens "
        "FROM documents), "
        "reps AS (SELECT MIN(doc_id) AS doc_id FROM h GROUP BY ch), "
        "surv AS (SELECT h.doc_id, h.n_tokens FROM h JOIN reps USING (doc_id) "
        f"WHERE h.n_tokens >= {TRAIN_MIN_TOKENS} "
        "AND substr(md5('split|' || CAST(h.doc_id AS VARCHAR)), 1, 4) >= "
        f"'{pct_threshold(TEST_PCT + VAL_PCT)}'), "
        "cum AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER "
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "AS BIGINT) AS cb FROM surv) "
        f"SELECT doc_id, n_tokens, cb // {PACK_CTX} AS pack_id, "
        f"cb % {PACK_CTX} AS pack_offset FROM cum"
    ),
)
def pipe_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end training-set build: exact dedup (keep the
    min-id representative per content hash) → quality floor (token
    count) → deterministic train split → sequence packing into context
    windows.  Composes four curation operators into the pipeline a
    tokenizer shard actually consumes.

    Scale: dedup is one content-hash shuffle + a doc-keyed semi-join;
    quality/split are narrow maps; packing is the two-level prefix sum
    (no global single-partition stage).  Every stage is deterministic,
    so the whole pipeline re-runs to identical packs on a grown corpus
    prefix."""
    from ..operators.curation import pack_sequences
    from ..operators.dedup import exact_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    reps = exact_dedup(docs).select(F.col("rep_doc_id").alias("doc_id"))
    surv = (
        docs.join(reps, "doc_id", "left_semi")
        .withColumn("n_tok", F.size(tokens_expr()))
        .filter(F.col("n_tok") >= TRAIN_MIN_TOKENS)
    )
    train = train_val_test_split(surv, "doc_id", VAL_PCT, TEST_PCT).filter(
        F.col("split") == "train"
    )
    return pack_sequences(train.select("doc_id", "text"), ctx_len=PACK_CTX)


@register(
    "cur_winsorize",
    oracle=(
        "WITH d AS (SELECT doc_id, source, "
        "CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens "
        "FROM documents), "
        "b AS (SELECT source, quantile_cont(n_tokens, 0.05) AS p05, "
        "quantile_cont(n_tokens, 0.95) AS p95 FROM d GROUP BY source) "
        "SELECT doc_id, d.source, "
        "ROUND(LEAST(GREATEST(n_tokens, p05), p95), 4) AS n_tokens_w, "
        "COALESCE(n_tokens < p05 OR n_tokens > p95, FALSE) AS clipped "
        "FROM d JOIN b USING (source)"
    ),
)
def cur_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorization of token counts (clip to [p05, p95]) —
    the outlier-taming step before corpus statistics or length-based
    mixing.  Bounds come from a tiny per-source aggregate (one row per
    domain) broadcast back onto the corpus: no corpus-wide window sort,
    one agg shuffle + a narrow clipped map.  Spark `percentile` is
    interpolated exactly like DuckDB `quantile_cont`, so bounds (and
    every clipped value) hash-match."""
    docs = load_tables(spark, sf_dir)["documents"]
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double").alias("n_tokens"),
    )
    b = d.groupBy("source").agg(
        F.expr("percentile(n_tokens, 0.05)").alias("p05"),
        F.expr("percentile(n_tokens, 0.95)").alias("p95"),
    )
    return d.join(F.broadcast(b), "source").select(
        "doc_id",
        "source",
        F.round(F.least(F.greatest(F.col("n_tokens"), F.col("p05")), F.col("p95")), 4).alias(
            "n_tokens_w"
        ),
        # coalesce: a NULL-text doc has NULL n_tokens — nothing was
        # clipped, and a NULLABLE boolean output column round-trips as
        # None on one engine and NaN on the other, breaking the
        # driver's stringified compare (fuzz gate, r12)
        F.coalesce(
            (F.col("n_tokens") < F.col("p05")) | (F.col("n_tokens") > F.col("p95")),
            F.lit(False),
        ).alias("clipped"),
    )


def _minhash_est_oracle() -> str:
    from ..operators.dedup import N_HASHES

    matches = " + ".join(
        f"CASE WHEN sa.h{h} = sb.h{h} THEN 1 ELSE 0 END" for h in range(N_HASHES)
    )
    return (
        f"WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND} "
        f"SELECT c.doc_a, c.doc_b, "
        f"ROUND(CAST({matches} AS DOUBLE) / {N_HASHES}, 4) AS est_jaccard "
        "FROM cand c "
        "JOIN sig sa ON sa.doc_id = c.doc_a "
        "JOIN sig sb ON sb.doc_id = c.doc_b"
    )


@register("dd_minhash_estimate", oracle=_minhash_est_oracle())
def dd_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-side Jaccard estimate for each LSH candidate pair: the
    fraction of agreeing minhash slots (E[agreement] = true Jaccard —
    the estimator LSH banding is built on).  This is what a 100 TB
    dedup run uses to rank candidates WITHOUT touching shingle sets
    again: the signature table (N_HASHES ints per doc) is the only
    input, so the verify stage reads kilobytes per pair instead of
    re-shuffling the corpus (dd_ngram_jaccard is the exact-verify
    alternative when precision matters)."""
    from ..operators.dedup import N_HASHES, minhash_signatures
    from ..operators.text import SHINGLE_K

    from .extensions import _shingles

    # The signature table is the persisted artifact of a production
    # dedup store — served from the on-disk index store like the band/
    # shingle relations (N_HASHES min-aggregations over the corpus
    # shingle stream, the family's dominant per-session cost: measured
    # 3.8 s at sf0.1 when recomputed, ~0.3 s read back).
    sig = persisted(
        "minhash_sig",
        spark,
        sf_dir,
        lambda: minhash_signatures(_shingles(spark, sf_dir)),
        table="documents",
        params=f"k={SHINGLE_K},h={N_HASHES}",
    )
    cand = _cand_pairs(spark, sf_dir)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{h}").alias(f"a{h}") for h in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{h}").alias(f"b{h}") for h in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{h}") == F.col(f"b{h}"), 1).otherwise(0)
        for h in range(N_HASHES)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches.cast("double") / N_HASHES, 4).alias("est_jaccard"),
        )
    )


def _funnel_oracle() -> str:
    from ..operators.text import (
        GOPHER_AVG_LEN_MAX_Q,
        GOPHER_AVG_LEN_MIN_Q,
        GOPHER_MAX_TOKENS,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_TOKENS,
        GOPHER_MIN_UNIQUE_Q,
    )
    from .extensions import _SW_EN

    return f"""
    WITH {_sql_shingles_k(DECONTAM_K)},
    d AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks,
             md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS content_hash,
             substr(md5('bench|' || CAST(doc_id AS VARCHAR)), 1, 4)
               < '{pct_threshold(BENCH_PCT)}' AS is_bench
      FROM documents
    ), sg AS (
      SELECT doc_id, content_hash, is_bench,
             len(toks) AS n_tokens,
             (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) * 10000)
               // len(toks) AS avg_len_q,
             (CAST(len(list_distinct(toks)) AS BIGINT) * 10000)
               // len(toks) AS unique_q,
             len(list_filter(toks, t -> t IN ({_SW_EN}))) AS sw_hits
      FROM d
    ), kp AS (
      SELECT doc_id, content_hash, is_bench,
             (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS})
               AND (avg_len_q BETWEEN {GOPHER_AVG_LEN_MIN_Q} AND {GOPHER_AVG_LEN_MAX_Q})
               AND unique_q >= {GOPHER_MIN_UNIQUE_Q}
               AND sw_hits >= {GOPHER_MIN_STOP_HITS} AS keep
      FROM sg
    ), r AS (
      SELECT doc_id, is_bench, keep,
             keep AND doc_id = MIN(CASE WHEN keep THEN doc_id END)
               OVER (PARTITION BY content_hash) AS rep
      FROM kp
    ), bs AS (
      SELECT DISTINCT s FROM wsh JOIN kp USING (doc_id) WHERE kp.is_bench
    ), cont AS (
      SELECT DISTINCT wsh.doc_id FROM wsh
      JOIN kp USING (doc_id) JOIN bs USING (s) WHERE NOT kp.is_bench
    ), fl AS (
      SELECT r.keep, r.rep,
             r.rep AND NOT r.is_bench AND cont.doc_id IS NULL AS clean
      FROM r LEFT JOIN cont USING (doc_id)
    ), agg AS (
      SELECT COUNT(*) AS n0,
             CAST(SUM(CAST(keep AS INT)) AS BIGINT) AS n1,
             CAST(SUM(CAST(rep AS INT)) AS BIGINT) AS n2,
             CAST(SUM(CAST(clean AS INT)) AS BIGINT) AS n3
      FROM fl
    )
    SELECT 0 AS stage, 'raw' AS stage_name, n0 AS n_docs FROM agg
    UNION ALL SELECT 1, 'quality', n1 FROM agg
    UNION ALL SELECT 2, 'dedup', n2 FROM agg
    UNION ALL SELECT 3, 'decontam', n3 FROM agg
    """


@register("pipe_filter_funnel", oracle=_funnel_oracle())
def pipe_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel survival report: raw -> Gopher quality ->
    exact-dedup representative -> decontaminated, as four (stage,
    stage_name, n_docs) rows.  One scan computes quality signals +
    content hash + benchmark flag together (gopher_quality's carry
    columns); one content-hash window shuffle; contaminated ids arrive
    broadcast (operators.pipeline.filter_funnel)."""
    from ..operators.pipeline import filter_funnel

    return filter_funnel(load_tables(spark, sf_dir)["documents"], bench_pct=BENCH_PCT)


@register(
    "dq_documents_expectations",
    oracle="""
    WITH a AS (
      SELECT COUNT(*) AS n,
             COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS v0,
             COUNT(CASE WHEN NOT COALESCE(length(trim(text)) > 0, FALSE) THEN 1 END) AS v1,
             COUNT(CASE WHEN NOT COALESCE(n_chars = length(text), FALSE) THEN 1 END) AS v2,
             COUNT(CASE WHEN NOT COALESCE(lang IN ('en','de','es','fr','zh'), FALSE) THEN 1 END) AS v3,
             COUNT(CASE WHEN NOT COALESCE(source LIKE 'src%', FALSE) THEN 1 END) AS v4,
             COUNT(*) - COUNT(DISTINCT doc_id) AS v5
      FROM documents
    )
    SELECT 'doc_id_not_null' AS rule, n AS n_rows, v0 AS n_violations,
           ROUND(CAST(v0 AS DOUBLE)/n, 6) AS violation_rate FROM a
    UNION ALL SELECT 'text_not_empty', n, v1, ROUND(CAST(v1 AS DOUBLE)/n, 6) FROM a
    UNION ALL SELECT 'chars_consistent', n, v2, ROUND(CAST(v2 AS DOUBLE)/n, 6) FROM a
    UNION ALL SELECT 'lang_known', n, v3, ROUND(CAST(v3 AS DOUBLE)/n, 6) FROM a
    UNION ALL SELECT 'source_prefixed', n, v4, ROUND(CAST(v4 AS DOUBLE)/n, 6) FROM a
    UNION ALL SELECT 'doc_id_unique', n, v5, ROUND(CAST(v5 AS DOUBLE)/n, 6) FROM a
    """,
)
def dq_documents_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation suite over the documents corpus (the ingest gate a
    training pipeline runs before any curation): not-null, non-empty,
    metadata-consistency (n_chars == length(text)), set-membership,
    prefix, and primary-key uniqueness — row-wise rules in ONE scan
    via operators.quality.expectation_report, the uniqueness rule as a
    second global aggregate (count vs distinct count) unioned in."""
    from ..operators.quality import expectation_report

    docs = load_tables(spark, sf_dir)["documents"]
    report = expectation_report(
        docs,
        {
            "doc_id_not_null": F.col("doc_id").isNotNull(),
            "text_not_empty": F.length(F.trim(F.col("text"))) > 0,
            "chars_consistent": F.col("n_chars") == F.length("text"),
            "lang_known": F.col("lang").isin("en", "de", "es", "fr", "zh"),
            "source_prefixed": F.col("source").startswith("src"),
        },
    )
    uniq = docs.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("v"),
    ).select(
        F.lit("doc_id_unique").alias("rule"),
        F.col("n").alias("n_rows"),
        F.col("v").alias("n_violations"),
        F.round(F.col("v") / F.col("n"), 6).alias("violation_rate"),
    )
    return report.unionAll(uniq)


# ---------------------------------------------------------------------------
# Lexical retrieval + context chunking (round 6)
# ---------------------------------------------------------------------------

#: deterministic benchmark query for the BM25 retrieval path — terms
#: present in the synthetic corpus vocabulary.
BM25_QUERY = ("vector", "merge", "filter")
BM25_TOP_K = 20


def _bm25_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full (doc_id, term, tf) inverted postings — on-disk index store
    entry, term-clustered so the query bag's IN-filter prunes row
    groups on read-back (operators.text.bm25_corpus_relations).  The
    corpus is tokenized once per version; every retrieval batch after
    that is a pushed-down postings scan — the RAG-serving shape."""
    from ..operators.text import bm25_corpus_relations

    return persisted(
        "bm25_postings",
        spark,
        sf_dir,
        lambda: bm25_corpus_relations(load_tables(spark, sf_dir)["documents"])[0],
        table="documents",
        # UNCACHED: consumers must hit the parquet scan so the query
        # bag's term IN-filter pushes down and prunes the
        # term-clustered row groups (plan-asserted in test_plans) —
        # an InMemoryRelation would materialize the whole vocabulary
        cache=False,
    )


def _bm25_doclens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl) document lengths — on-disk index store entry
    (joined per retrieval batch; also the source of the corpus token
    total and max-dl stats scalars, so a cold session derives ALL BM25
    corpus state from the store without re-tokenizing)."""
    from ..operators.text import bm25_corpus_relations

    return persisted(
        "bm25_doclens",
        spark,
        sf_dir,
        lambda: bm25_corpus_relations(load_tables(spark, sf_dir)["documents"])[1],
        table="documents",
    )


def _doclen_stats(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(corpus token total, max document length) for the BM25 length
    normalization and its int64 overflow guard, computed once per
    (session, table set) by one aggregate over the store-served doclen
    relation (sum(dl) == the direct tokenize-and-sum over documents,
    without re-tokenizing the corpus in a cold session)."""

    def stats() -> tuple[int, int]:
        row = (
            _bm25_doclens(spark, sf_dir)
            .agg(F.sum("dl").alias("n"), F.max("dl").alias("mx"))
            .collect()[0]
        )
        return (int(row["n"]), int(row["mx"]))

    return memo("doclen_stats", spark, sf_dir, stats)


def _sql_bm25(limit: int = BM25_TOP_K) -> str:
    # ``limit`` lets _sql_hybrid request its own depth instead of
    # silently riding BM25_TOP_K (r11 review: the two constants only
    # coincidentally agree; the batch variant already parameterizes)
    from ..operators.text import BM25_SCALE

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             (SUM(len(toks)) * {BM25_SCALE}) // COUNT(*) AS avgdl_q
      FROM d
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM d)
      WHERE term IN ({terms})
      GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term, (SELECT n_docs FROM stats) * {IDF_SCALE} // COUNT(*) AS idf_q
      FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             idf.idf_q * ((22 * tf * (SELECT avgdl_q FROM stats) * {BM25_SCALE}) //
               (10 * tf * (SELECT avgdl_q FROM stats)
                + 3 * (SELECT avgdl_q FROM stats)
                + 9 * {BM25_SCALE} * dl.dl)) AS term_score
      FROM tf JOIN idf USING (term) JOIN dl ON dl.doc_id = tf.doc_id
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score,
             COUNT(*) AS n_terms_hit
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score, n_terms_hit,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
    FROM agg
    ORDER BY score DESC, doc_id
    LIMIT {limit}
    """


@register("tx_bm25_topk", oracle=_sql_bm25())
def tx_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: top-20 documents for a fixed query bag —
    the sparse half of a hybrid RAG retriever (operators.text.bm25_topk;
    the dense half is the sim_* ANN ladder).  Fixed-point integer
    scoring (k1=1.2, b=0.75 folded into exact int64 ratios) so the
    ranking is bit-deterministic on both engines; the top-k compiles
    to TakeOrderedAndProject.

    Corpus state is store-served (r7): the (doc_id, term, tf) postings
    and (doc_id, dl) length relations load from the fingerprint-guarded
    index store, so a retrieval batch is a term-pruned postings scan +
    broadcast idf join + doc-length join — the corpus itself is never
    re-tokenized after the first session.  The stats scalars
    (n_docs/total_tokens/max_dl) come from the same store, and max_dl
    feeds bm25_topk's int64 fixed-point overflow guard."""
    from ..operators.text import bm25_topk

    total_tokens, max_dl = _doclen_stats(spark, sf_dir)
    return bm25_topk(
        _bm25_postings(spark, sf_dir),
        _bm25_doclens(spark, sf_dir),
        BM25_QUERY,
        n_docs=_doc_count(spark, sf_dir),
        total_tokens=total_tokens,
        top_k=BM25_TOP_K,
        max_dl=max_dl,
    )


#: batch retrieval: three query bags served from ONE postings scan —
#: the amortized RAG-serving shape (terms drawn from the corpus
#: vocabulary; bag 0 is the single-query benchmark's bag).
BM25_BATCH: dict[int, tuple[str, ...]] = {
    0: ("vector", "merge", "filter"),
    1: ("join", "hash", "scan"),
    2: ("stream", "window", "sort"),
}
BM25_BATCH_K = 5


def _sql_bm25_batch(k: int = BM25_BATCH_K) -> str:
    from ..operators.text import BM25_SCALE

    all_terms = ", ".join(
        f"'{t}'" for t in sorted({t for ts in BM25_BATCH.values() for t in ts})
    )
    # dedupe each bag in lockstep with bm25_batch_topk's qrel (r11)
    values = ", ".join(
        f"({qid}, '{t}')"
        for qid, ts in sorted(BM25_BATCH.items())
        for t in sorted(set(ts))
    )
    return f"""
    WITH qrel AS (SELECT * FROM (VALUES {values}) AS v(query_id, term)),
    d AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             (SUM(len(toks)) * {BM25_SCALE}) // COUNT(*) AS avgdl_q
      FROM d
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM d)
      WHERE term IN ({all_terms})
      GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term, (SELECT n_docs FROM stats) * {IDF_SCALE} // COUNT(*) AS idf_q
      FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term,
             idf.idf_q * ((22 * tf * (SELECT avgdl_q FROM stats) * {BM25_SCALE}) //
               (10 * tf * (SELECT avgdl_q FROM stats)
                + 3 * (SELECT avgdl_q FROM stats)
                + 9 * {BM25_SCALE} * dl.dl)) AS term_score
      FROM tf JOIN idf USING (term) JOIN dl ON dl.doc_id = tf.doc_id
    ),
    pq AS (
      SELECT q.query_id, s.doc_id,
             CAST(SUM(term_score) AS BIGINT) AS score,
             COUNT(*) AS n_terms_hit
      FROM scored s JOIN qrel q USING (term)
      GROUP BY q.query_id, s.doc_id
    )
    SELECT query_id, doc_id, score, n_terms_hit,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
    FROM pq QUALIFY rank <= {k}
    """


@register("tx_bm25_batch", oracle=_sql_bm25_batch())
def tx_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 retrieval (r7): three query bags answered from ONE
    pushed-down scan of the persisted postings store — per-query top-5
    via a single WindowGroupLimit (operators.text.bm25_batch_topk).
    This is the amortized serving shape: batch cost scales with the
    union of the batch's terms, not with batch size, and the corpus is
    never re-tokenized."""
    from ..operators.text import bm25_batch_topk

    total_tokens, max_dl = _doclen_stats(spark, sf_dir)
    return bm25_batch_topk(
        _bm25_postings(spark, sf_dir),
        _bm25_doclens(spark, sf_dir),
        BM25_BATCH,
        n_docs=_doc_count(spark, sf_dir),
        total_tokens=total_tokens,
        top_k=BM25_BATCH_K,
        max_dl=max_dl,
    )


#: hybrid retrieval: fuse the BM25 top-20 with the dense cosine top-20
#: for query vector 0 (the synthetic corpus aligns vec_id with doc_id
#: on the embedded prefix — documented join assumption).
HYBRID_DEPTH = 20
HYBRID_TOP_K = 10
HYBRID_QUERY_VEC = 0


def _sql_hybrid_batch() -> str:
    from ..operators.text import RRF_K, RRF_SCALE
    from .extensions import _sql_cos

    cos = _sql_cos("q.qe", "e.embedding")
    n_q = len(BM25_BATCH)
    return f"""
    WITH sparse AS (
      SELECT query_id, doc_id, rank FROM ({_sql_bm25_batch(HYBRID_DEPTH)})
    ),
    dense AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT q.query_id, e.vec_id AS doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY {cos} DESC, e.vec_id) AS INTEGER) AS rank
        FROM embeddings e,
             (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
              WHERE vec_id < {n_q}) q
        WHERE e.vec_id <> q.query_id
      ) WHERE rank <= {HYBRID_DEPTH}
    ),
    u AS (
      SELECT query_id, doc_id, {RRF_SCALE} // ({RRF_K} + rank) AS c FROM sparse
      UNION ALL
      SELECT query_id, doc_id, {RRF_SCALE} // ({RRF_K} + rank) AS c FROM dense
    ),
    f AS (
      SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_score,
             COUNT(*) AS n_lists
      FROM u GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, rrf_score, n_lists,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
    FROM f QUALIFY rank <= {HYBRID_TOP_K}
    """


@register("tx_hybrid_batch", oracle=_sql_hybrid_batch())
def tx_hybrid_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched hybrid retrieval (r7): the full two-tower serving shape
    — a BATCH of queries each fused from its sparse BM25 top-20 (one
    pushed-down postings-store scan for the whole batch) and its dense
    cosine top-20 (one broadcast-query-set scan), combined per query
    by integer RRF.  Per-query fusion/top-k compile to ONE
    WindowGroupLimit over the tiny fused relation; batch cost = one
    postings scan + one corpus embedding scan regardless of batch
    size.  Query bags are BM25_BATCH; dense queries are the matching
    vec_ids (the synthetic corpus aligns vec_id with doc_id on the
    embedded prefix)."""
    from ..operators.similarity import cosine_topk
    from ..operators.text import bm25_batch_topk, rrf_fuse

    total_tokens, max_dl = _doclen_stats(spark, sf_dir)
    sparse = bm25_batch_topk(
        _bm25_postings(spark, sf_dir),
        _bm25_doclens(spark, sf_dir),
        BM25_BATCH,
        n_docs=_doc_count(spark, sf_dir),
        total_tokens=total_tokens,
        top_k=HYBRID_DEPTH,
        max_dl=max_dl,
    ).select("query_id", "doc_id", "rank")
    from .extensions import _emb_norms

    dense = cosine_topk(
        load_tables(spark, sf_dir)["embeddings"],
        n_queries=len(BM25_BATCH),
        k=HYBRID_DEPTH,
        norms=_emb_norms(spark, sf_dir),
    ).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), F.col("rnk").alias("rank")
    )
    return rrf_fuse(
        [sparse, dense], top_k=HYBRID_TOP_K, group_col="query_id"
    )


def _sql_hybrid() -> str:
    from ..operators.text import RRF_K, RRF_SCALE
    from .extensions import _sql_cos

    cos = _sql_cos("q.qe", "e.embedding")
    return f"""
    WITH sparse AS (SELECT doc_id, rank FROM ({_sql_bm25(HYBRID_DEPTH)})),
    dense AS (
      SELECT doc_id, rank FROM (
        SELECT e.vec_id AS doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY {cos} DESC, e.vec_id)
                    AS INTEGER) AS rank
        FROM embeddings e,
             (SELECT embedding AS qe FROM embeddings
              WHERE vec_id = {HYBRID_QUERY_VEC}) q
        WHERE e.vec_id <> {HYBRID_QUERY_VEC}
      ) WHERE rank <= {HYBRID_DEPTH}
    ),
    u AS (
      SELECT doc_id, {RRF_SCALE} // ({RRF_K} + rank) AS c FROM sparse
      UNION ALL
      SELECT doc_id, {RRF_SCALE} // ({RRF_K} + rank) AS c FROM dense
    ),
    f AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_score,
             COUNT(*) AS n_lists
      FROM u GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_lists,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)
                AS INTEGER) AS rank
    FROM f ORDER BY rrf_score DESC, doc_id LIMIT {HYBRID_TOP_K}
    """


@register("tx_hybrid_rrf", oracle=_sql_hybrid())
def tx_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (r7): reciprocal-rank fusion of the sparse
    BM25 top-20 (store-served postings, tx_bm25_topk's exact plan) and
    the dense exact-cosine top-20 for query vector 0 — the standard
    two-tower RAG retrieval stack fused with Cormack's k=60 RRF.  All
    arithmetic integer (contribution = SCALE div (k + rank)), so the
    fused ranking is bit-identical on both engines; fusion itself is a
    union-all + hash-agg over two <= 20-row lists — no joins, cost
    independent of corpus size."""
    from ..operators.similarity import cosine_topk
    from ..operators.text import bm25_topk, rrf_fuse

    total_tokens, max_dl = _doclen_stats(spark, sf_dir)
    sparse = bm25_topk(
        _bm25_postings(spark, sf_dir),
        _bm25_doclens(spark, sf_dir),
        BM25_QUERY,
        n_docs=_doc_count(spark, sf_dir),
        total_tokens=total_tokens,
        top_k=HYBRID_DEPTH,
        max_dl=max_dl,
    ).select("doc_id", "rank")
    from .extensions import _emb_norms

    dense = cosine_topk(
        load_tables(spark, sf_dir)["embeddings"],
        n_queries=HYBRID_QUERY_VEC + 1,
        k=HYBRID_DEPTH,
        norms=_emb_norms(spark, sf_dir),
    ).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rnk").alias("rank")
    )
    return rrf_fuse([sparse, dense], top_k=HYBRID_TOP_K)


def _sql_chunks() -> str:
    from ..operators.curation import CHUNK_STRIDE, CHUNK_WINDOW

    w, s = CHUNK_WINDOW, CHUNK_STRIDE
    return f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks,
             len(string_split_regex(trim(text), '\\s+')) AS n
      FROM documents
    ),
    ex AS (
      SELECT doc_id, toks,
             unnest([i for i in range(0, 1 + CAST(ceil(greatest(n - {w}, 0) / {s}) AS INT))])
               AS chunk_idx
      FROM d
    )
    SELECT doc_id, chunk_idx,
           len(toks[chunk_idx * {s} + 1 : chunk_idx * {s} + {w}]) AS n_chunk_tokens,
           array_to_string(toks[chunk_idx * {s} + 1 : chunk_idx * {s} + {w}], ' ')
             AS chunk_text
    FROM ex
    """


#: chunk identity encoding for the RAG-index dedup representative:
#: enc = doc_id * RAG_ENC + chunk_idx is unique and order-isomorphic
#: to (doc_id, chunk_idx) while staying pure int64 (valid for docs up
#: to RAG_ENC chunks ~ 24M tokens at the registered window/stride).
RAG_ENC = 1_000_000


def _sql_rag_index() -> str:
    return f"""
    WITH chunks AS (SELECT * FROM ({_sql_chunks()})),
    h AS (
      SELECT doc_id, chunk_idx, n_chunk_tokens,
             md5(chunk_text) AS ch,
             doc_id * {RAG_ENC} + chunk_idx AS enc
      FROM chunks
    ),
    rep AS (SELECT ch, MIN(enc) AS rep_enc FROM h GROUP BY ch),
    f AS (SELECT h.*, (enc = rep_enc) AS is_rep FROM h JOIN rep USING (ch))
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CAST(is_rep AS INT)) AS BIGINT) AS n_indexed,
           CAST(COUNT(*) - SUM(CAST(is_rep AS INT)) AS BIGINT) AS n_dup_chunks,
           CAST(SUM(CASE WHEN is_rep THEN n_chunk_tokens ELSE 0 END) AS BIGINT)
             AS tok_indexed
    FROM f GROUP BY doc_id
    """


@register("pipe_rag_index", oracle=_sql_rag_index())
def pipe_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingestion pipeline (r7): chunk the corpus into overlapping
    context windows, dedup chunks CORPUS-WIDE by content hash (boiler
    chunks repeat across documents; the min-(doc,chunk) representative
    is kept, the RAG-index analog of exact_dedup's rep rule), and
    report per-document index stats — chunks produced, chunks actually
    indexed, duplicates elided, tokens indexed.

    Plan shape: chunking is a zero-shuffle narrow map (cur_chunk's
    plan), then ONE hash-shuffle keyed by chunk hash (rep agg + join
    back — AQE broadcasts the rep side only when it fits) and one
    doc-keyed agg.  Linear in corpus tokens; no pair joins."""
    from ..operators.curation import chunk_documents

    chunks = chunk_documents(load_tables(spark, sf_dir)["documents"])
    h = chunks.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("ch"),
        (F.col("doc_id") * F.lit(RAG_ENC) + F.col("chunk_idx")).alias("enc"),
    )
    rep = h.groupBy("ch").agg(F.min("enc").alias("rep_enc"))
    flagged = h.join(rep, "ch").withColumn(
        "is_rep", F.col("enc") == F.col("rep_enc")
    )
    is_rep_l = F.col("is_rep").cast("bigint")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(is_rep_l).alias("n_indexed"),
        (F.count(F.lit(1)) - F.sum(is_rep_l)).alias("n_dup_chunks"),
        F.sum(
            F.when(F.col("is_rep"), F.col("n_chunk_tokens")).otherwise(F.lit(0))
        ).cast("bigint").alias("tok_indexed"),
    )


@register("cur_chunk", oracle=_sql_chunks())
def cur_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (32-token windows, stride
    24) — the RAG-indexer / long-doc training splitter
    (operators.curation.chunk_documents).  Pure narrow map: tokenize +
    sequence/explode + slice per row, zero shuffles."""
    from ..operators.curation import chunk_documents

    return chunk_documents(load_tables(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# Corpus version diff (r8)
# ---------------------------------------------------------------------------

#: v2 derivation coins (md5 residues on doc_id): ~5% of docs deleted,
#: ~10% of survivors edited, ~5% re-ingested as new docs.  Shared
#: literals between the Spark builder and the oracle.
DIFF_DEL_MOD = 20
DIFF_EDIT_MOD = 10
DIFF_ADD_RESIDUE = 7


def _diff_coin_sql(tag: str) -> str:
    return (
        f"CAST('0x' || substr(md5('{tag}|' || CAST(doc_id AS VARCHAR)), 1, 15)"
        " AS BIGINT)"
    )


def _diff_oracle() -> str:
    return f"""
    WITH v2base AS (
      SELECT doc_id, source,
             CASE WHEN {_diff_coin_sql('edit')} % {DIFF_EDIT_MOD} = 0
                  THEN text || ' r2-edit' ELSE text END AS text
      FROM documents
      WHERE {_diff_coin_sql('del')} % {DIFF_DEL_MOD} <> 0
    ), v2 AS (
      SELECT * FROM v2base
      UNION ALL
      SELECT -doc_id - 1 AS doc_id, source, text || ' r2-new' AS text
      FROM documents
      WHERE {_diff_coin_sql('add')} % {DIFF_DEL_MOD} = {DIFF_ADD_RESIDUE}
    ), a AS (
      SELECT doc_id, source AS src_a, md5(text) AS h_a FROM documents
    ), b AS (
      SELECT doc_id, source AS src_b, md5(text) AS h_b FROM v2
    ), c AS (
      SELECT COALESCE(src_a, src_b) AS source,
             CASE WHEN h_a IS NULL THEN 'added'
                  WHEN h_b IS NULL THEN 'removed'
                  WHEN h_a <> h_b THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM a FULL OUTER JOIN b USING (doc_id)
    )
    SELECT source, change_type, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM c GROUP BY 1, 2
    """


def _diff_coin(tag: str):
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{tag}|"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")


@register("pipe_corpus_diff", oracle=_diff_oracle())
def pipe_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot promotion audit (operators.pipeline.corpus_diff):
    classify every document as added/removed/changed/unchanged between
    corpus v1 and a deterministically derived v2 (content-addressed
    md5 coins delete ~5%, edit ~10% of survivors, and re-ingest ~5%
    under fresh negative ids — both engines derive the identical v2,
    so the diff itself is under the exact gate).  One narrow
    (key, source, content-hash) projection per side — text never
    shuffles — one full-outer join on doc_id, then a
    (sources x 4)-row rollup."""
    from ..operators.pipeline import corpus_diff

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "source", "text")
    v2base = docs.filter(_diff_coin("del") % DIFF_DEL_MOD != 0).select(
        "doc_id",
        "source",
        F.when(
            _diff_coin("edit") % DIFF_EDIT_MOD == 0,
            F.concat(F.col("text"), F.lit(" r2-edit")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(_diff_coin("add") % DIFF_DEL_MOD == DIFF_ADD_RESIDUE).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        "source",
        F.concat(F.col("text"), F.lit(" r2-new")).alias("text"),
    )
    return corpus_diff(docs, v2base.unionByName(added))


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle -> exact batch manifest
# ---------------------------------------------------------------------------

#: cur_epoch_batches parameters: permutation salt and loader batch size.
EPOCH_N = 1
EPOCH_BATCH = 64


@register(
    "cur_epoch_batches",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             md5('epoch{EPOCH_N}|' || CAST(doc_id AS VARCHAR)) AS sk,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), p AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS pos FROM d
    )
    SELECT CAST(pos // {EPOCH_BATCH} AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(sk) AS first_key, MAX(sk) AS last_key
    FROM p GROUP BY 1
    """,
)
def cur_epoch_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-1 training-loader batch manifest via the DETERMINISTIC
    epoch shuffle (operators/curation.epoch_batches): every doc gets a
    global position in the md5-permuted order and an exact fixed-size
    ``batch_id = pos DIV batch_size``; the manifest reports per-batch doc
    and token counts plus the key range.  The oracle's
    ``ROW_NUMBER() OVER (ORDER BY sk)`` is the semantics; the Spark
    plan REFUSES that single-task sort and composes the position as
    bucket-offset + within-bucket rank — one shuffle keyed by the
    4096-way uniform key prefix, a broadcast 4096-row offset relation,
    and the same corpus-order-independent answer at any scale.  A new
    epoch is a salt change (different permutation, zero state); an
    append reshuffles only by construction of md5, not by re-sorting
    history."""
    from ..operators.curation import epoch_batches

    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", F.size(tokens_expr()).cast("bigint").alias("n_tokens")
    )
    assign = epoch_batches(docs, epoch=EPOCH_N, batch_size=EPOCH_BATCH)
    return assign.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("sk").alias("first_key"),
        F.max("sk").alias("last_key"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe split (group-integral train/val/test by dup cluster)
# ---------------------------------------------------------------------------


@register(
    "cur_leakage_safe_split",
    oracle=(
        f"WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND}, "
        "e AS (SELECT doc_a AS src, doc_b AS dst FROM cand "
        "UNION ALL SELECT doc_b, doc_a FROM cand), "
        "walk(doc_id, lbl) AS (SELECT src, src FROM e "
        "UNION SELECT e.src, w.lbl FROM walk w JOIN e ON e.dst = w.doc_id), "
        "cl AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY doc_id), "
        "g AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS gid, "
        "cl.doc_id IS NOT NULL AS is_clustered "
        "FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id), "
        "s AS (SELECT *, CASE "
        f"WHEN substr(md5('lsplit|' || CAST(gid AS VARCHAR)), 1, 4)"
        f" < '{pct_threshold(TEST_PCT)}' THEN 'test' "
        f"WHEN substr(md5('lsplit|' || CAST(gid AS VARCHAR)), 1, 4)"
        f" < '{pct_threshold(TEST_PCT + VAL_PCT)}' THEN 'val' "
        "ELSE 'train' END AS split FROM g) "
        "SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(COUNT(DISTINCT gid) AS BIGINT) AS n_groups, "
        "CAST(SUM(CASE WHEN is_clustered THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_clustered_docs "
        "FROM s GROUP BY split"
    ),
)
def cur_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that cannot leak through near-duplicates:
    the md5 split coin is tossed on the doc's DUP-CLUSTER id (its own
    id for singletons), so every LSH near-dup cluster lands whole in
    exactly one split — the group-integrity property a doc-keyed split
    (cur_split) lacks, and the reason eval contamination survives
    naive splitting: a train doc's paraphrase in the test split is a
    leaked answer.  Reports per-split doc/group/clustered-doc counts;
    the structural no-cluster-spans-splits guarantee is asserted
    row-level in test_curation.

    Scale shape: the cluster relation is the pair-graph-sized
    (doc_id, cluster_id) table dd_dup_clusters already maintains
    (served from the index store), broadcast into one left join;
    the split coin and the rollup are a narrow map plus one
    3-group aggregate.  Nothing here re-touches text or re-runs
    LSH."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    clusters = _dup_clusters(spark, sf_dir)
    g = (
        docs.join(F.broadcast(clusters), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("gid"),
            F.col("cluster_id").isNotNull().alias("is_clustered"),
        )
    )
    s = train_val_test_split(g, "gid", VAL_PCT, TEST_PCT, salt="lsplit")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("gid").alias("n_groups"),
        F.sum(F.col("is_clustered").cast("bigint")).alias("n_clustered_docs"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup report
# ---------------------------------------------------------------------------


def _register_dd_cdc_chunks() -> None:
    from ..operators.dedup import CDC_MOD

    oracle = f"""
    WITH d AS (
      SELECT doc_id, source,
             string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ), t AS (
      SELECT doc_id, source, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id, source,
               unnest([{{'pos': i, 'tok': toks[i]}}
                       for i in range(1, len(toks) + 1)]) AS u
        FROM d)
    ), f AS (
      SELECT doc_id, source, pos, tok,
             CASE WHEN CAST('0x' || substr(md5('cdc|' || tok), 1, 15)
                        AS BIGINT) % {CDC_MOD} = 0 THEN 1 ELSE 0 END AS b
      FROM t
    ), c AS (
      SELECT doc_id, source, pos, tok,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_idx
      FROM f
    ), ch AS (
      SELECT doc_id, source, chunk_idx,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM c GROUP BY doc_id, source, chunk_idx
    ), per AS (
      SELECT source, chunk_hash, CAST(COUNT(*) AS BIGINT) AS cnt,
             MIN(n_tok) AS n_tok
      FROM ch GROUP BY source, chunk_hash
    )
    SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST((COUNT(*) * 10000) // SUM(cnt) AS BIGINT) AS dedup_ratio_q,
           CAST(SUM((cnt - 1) * n_tok) AS BIGINT) AS n_dup_tokens
    FROM per GROUP BY source
    """

    @register("dd_cdc_chunks", oracle=oracle)
    def dd_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Storage-level redundancy report over CONTENT-DEFINED chunks
        (operators/dedup.cdc_chunk_stats): a token whose md5 lands in
        residue 0 mod 16 opens a new chunk, so chunk boundaries follow
        content — an insertion re-chunks only its neighborhood, where
        fixed-size segments (cur_line_dedup's unit) shift every later
        boundary.  Per source: total/distinct chunk counts, the 1e4
        fixed-point dedup ratio, and the tokens sitting in redundant
        chunk instances (what cross-document storage dedup reclaims —
        the FastCDC-family backup/dataset-versioning measure, distinct
        from the semantic near-dup families).  Chunking runs inside
        each document's row (boundary flags, chunk offsets, one md5
        per chunk), so text never shuffles: the first exchange is the
        (source, chunk_hash) aggregate over the chunk relation."""
        from ..operators.dedup import cdc_chunk_stats

        return cdc_chunk_stats(load_tables(spark, sf_dir)["documents"])


_register_dd_cdc_chunks()


# ---------------------------------------------------------------------------
# Incremental chunk-store ingest (CDC reuse across corpus versions)
# ---------------------------------------------------------------------------


def _cdc_chunk_cte(rel: str, p: str) -> str:
    """CDC chunk relation CTE chain over relation ``rel`` (prefix
    ``p`` keeps the two versions' chains disjoint) — same md5-gear
    arithmetic as operators/dedup.cdc_chunks."""
    from ..operators.dedup import CDC_MOD

    return f"""{p}d AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM {rel}
    ), {p}t AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest([{{'pos': i, 'tok': toks[i]}}
                       for i in range(1, len(toks) + 1)]) AS u
        FROM {p}d)
    ), {p}c AS (
      SELECT doc_id, pos, tok,
             SUM(CASE WHEN CAST('0x' || substr(md5('cdc|' || tok), 1, 15)
                            AS BIGINT) % {CDC_MOD} = 0
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_idx
      FROM {p}t
    ), {p}ch AS (
      SELECT doc_id, chunk_idx, CAST(COUNT(*) AS BIGINT) AS n_tok,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM {p}c GROUP BY doc_id, chunk_idx
    )"""


def _register_dd_cdc_incremental() -> None:
    oracle = f"""
    WITH v2base AS (
      SELECT doc_id, source,
             CASE WHEN {_diff_coin_sql('edit')} % {DIFF_EDIT_MOD} = 0
                  THEN text || ' r2-edit' ELSE text END AS text
      FROM documents
      WHERE {_diff_coin_sql('del')} % {DIFF_DEL_MOD} <> 0
    ), v2 AS (
      SELECT * FROM v2base
      UNION ALL
      SELECT -doc_id - 1 AS doc_id, source, text || ' r2-new' AS text
      FROM documents
      WHERE {_diff_coin_sql('add')} % {DIFF_DEL_MOD} = {DIFF_ADD_RESIDUE}
    ), {_cdc_chunk_cte('documents', 'a')}, {_cdc_chunk_cte('v2', 'b')},
    v1h AS (SELECT DISTINCT chunk_hash FROM ach),
    cls AS (
      SELECT bch.chunk_hash, bch.n_tok,
             v1h.chunk_hash IS NOT NULL AS seen
      FROM bch LEFT JOIN v1h USING (chunk_hash)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_v2_chunks,
           CAST(SUM(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
           CAST(SUM(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN seen THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS reuse_ratio_q,
           CAST(SUM(CASE WHEN NOT seen THEN n_tok ELSE 0 END) AS BIGINT)
             AS n_new_tokens
    FROM cls
    """

    @register("dd_cdc_incremental", oracle=oracle)
    def dd_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incremental chunk-store ingest across corpus versions
        (operators/dedup.cdc_reuse_stats over pipe_corpus_diff's
        deterministically derived v2): how many of v2's content-
        defined chunks already sit in v1's content-addressed store,
        and the token volume only a de-duplicating store must write.
        Because CDC boundaries are content-local, an edited document
        re-ingests only its changed neighborhoods — the measured
        reuse ratio is the dataset-versioning storage win.  Both
        versions chunk inside their rows; their ~1/16-sized chunk rows
        meet in one chunk_hash aggregation that classifies every v2
        instance, then one global aggregation sums the report."""
        from ..operators.dedup import cdc_reuse_stats

        docs = load_tables(spark, sf_dir)["documents"].select(
            "doc_id", "source", "text"
        )
        v2base = docs.filter(_diff_coin("del") % DIFF_DEL_MOD != 0).select(
            "doc_id",
            "source",
            F.when(
                _diff_coin("edit") % DIFF_EDIT_MOD == 0,
                F.concat(F.col("text"), F.lit(" r2-edit")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        added = docs.filter(
            _diff_coin("add") % DIFF_DEL_MOD == DIFF_ADD_RESIDUE
        ).select(
            (-F.col("doc_id") - 1).alias("doc_id"),
            "source",
            F.concat(F.col("text"), F.lit(" r2-new")).alias("text"),
        )
        return cdc_reuse_stats(docs, v2base.unionByName(added))


_register_dd_cdc_incremental()
