"""End-to-end training-data prep pipeline over ``documents``.

Composes the corpus operators the way a real pretraining pipeline
chains them — dedup, then quality filter, then language tagging — but
FUSED into a single projection + one shuffle, because at 100 TB the
naive composition (run each operator, join the outputs on doc_id)
re-scans and re-tokenizes the corpus once per stage:

* one scan computes the content hash, tokens, quality metrics, and
  per-language scores in a single whole-stage-codegen projection;
* one hash shuffle (window by content hash) picks the exact-dedup
  representative — the only data movement in the whole pipeline, with
  per-group state bounded by the duplicate count;
* the quality/language columns then filter and tag with zero further
  movement.

Same operator semantics as operators.text / operators.dedup (the
DuckDB oracle reproduces every value bit-for-bit); only the plan shape
is pipeline-fused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import (
    LANG_STOPWORDS,
    _stopword_hits,
    gopher_quality,
    lang_pred_expr,
    tokens_expr,
)

#: default gates: keep docs with at least MIN_TOKENS whitespace tokens
#: and a composite quality score of at least MIN_QUALITY (roughly the
#: top half of the driver corpus — the usual "drop the junk tail"
#: pre-filter ratio).
MIN_TOKENS = 20
MIN_QUALITY = 0.3


def clean_corpus(docs: DataFrame) -> DataFrame:
    """Exact-dedup -> quality-filter -> language-tag, single-pass.

    Output: one row per kept document — (doc_id, pred_lang, n_tokens,
    quality_score) — where "kept" means: the minimum doc_id of its
    exact-content group, with ``n_tokens >= MIN_TOKENS`` and
    ``quality_score >= MIN_QUALITY``.
    """
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    base = docs.select(
        "doc_id",
        F.md5(norm).alias("content_hash"),
        tokens_expr().alias("toks"),
    )
    n_tokens = F.size("toks")
    scores = {
        lang: _stopword_hits(F.col("toks"), words)
        for lang, words in LANG_STOPWORDS.items()
    }
    quality = F.round(
        F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(100.0))
        * (
            F.lit(0.5)
            + scores["en"].cast("double") / n_tokens.cast("double")
        ),
        4,
    )
    scored = base.select(
        "doc_id",
        "content_hash",
        n_tokens.alias("n_tokens"),
        quality.alias("quality_score"),
        *[expr.alias(f"c_{lang}") for lang, expr in scores.items()],
    )
    pred = lang_pred_expr({lang: F.col(f"c_{lang}") for lang in LANG_STOPWORDS})
    w = Window.partitionBy("content_hash")
    return (
        scored.withColumn("rep_doc_id", F.min("doc_id").over(w))
        .filter(
            (F.col("doc_id") == F.col("rep_doc_id"))
            & (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("quality_score") >= MIN_QUALITY)
        )
        .select("doc_id", pred.alias("pred_lang"), "n_tokens", "quality_score")
    )


def filter_funnel(docs: DataFrame, bench_pct: float = 5.0) -> DataFrame:
    """Stage-by-stage survival report of the curation funnel — the
    observability query a training-data pipeline runs after every
    corpus refresh to see WHERE documents are lost:

    ========  ===========================================================
    stage 0   raw corpus
    stage 1   Gopher rule-chain survivors (operators.text.gopher_quality)
    stage 2   + exact-dedup representatives (min doc_id per content hash
              among stage-1 survivors)
    stage 3   + decontaminated (not a benchmark member, and sharing no
              wide k-gram with the benchmark sample —
              operators.curation.benchmark_contamination)
    ========  ===========================================================

    Output: (stage, stage_name, n_docs) — four rows.

    Plan: quality signals, the content hash, and the benchmark flag are
    computed in ONE scan (gopher_quality's ``carry`` threads the extra
    columns through its projections — no doc_id re-join); the dedup
    representative costs the single content-hash-keyed window shuffle;
    the contaminated id set arrives by broadcast (bounded by benchmark
    size, like the decontam pass itself); the funnel is a 1-row global
    aggregate exploded to 4 rows.  Nothing else moves.
    """
    from .curation import _hash_bucket, benchmark_contamination, pct_threshold

    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    aug = docs.select(
        "doc_id",
        "text",
        F.md5(norm).alias("content_hash"),
        (_hash_bucket(F.col("doc_id"), "bench") < F.lit(pct_threshold(bench_pct)))
        .alias("is_bench"),
    )
    g = gopher_quality(aug, carry=("content_hash", "is_bench"))
    w = Window.partitionBy("content_hash")
    min_keep = F.min(F.when(F.col("keep"), F.col("doc_id"))).over(w)
    cont = benchmark_contamination(docs, bench_pct=bench_pct).select(
        "doc_id", F.lit(True).alias("contaminated")
    )
    flagged = (
        g.withColumn("rep", F.col("keep") & (F.col("doc_id") == min_keep))
        .join(F.broadcast(cont), "doc_id", "left")
        .select(
            "keep",
            "rep",
            (
                F.col("rep")
                & ~F.col("is_bench")
                & ~F.coalesce(F.col("contaminated"), F.lit(False))
            ).alias("clean"),
        )
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("keep").cast("int")).alias("n1"),
        F.sum(F.col("rep").cast("int")).alias("n2"),
        F.sum(F.col("clean").cast("int")).alias("n3"),
    )
    return agg.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("stage"), F.lit("raw").alias("stage_name"),
                         F.col("n0").alias("n_docs")),
                F.struct(F.lit(1).alias("stage"), F.lit("quality").alias("stage_name"),
                         F.col("n1").alias("n_docs")),
                F.struct(F.lit(2).alias("stage"), F.lit("dedup").alias("stage_name"),
                         F.col("n2").alias("n_docs")),
                F.struct(F.lit(3).alias("stage"), F.lit("decontam").alias("stage_name"),
                         F.col("n3").alias("n_docs")),
            )
        ).alias("f")
    ).select("f.stage", "f.stage_name", "f.n_docs")


# ---------------------------------------------------------------------------
# Corpus version diff (dataset-versioning audit)
# ---------------------------------------------------------------------------

def corpus_diff(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """Snapshot-to-snapshot corpus diff: classify every document as
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` between two
    corpus versions and report per-(source, change_type) counts — the
    audit a dataset-versioning deployment runs before promoting a new
    training snapshot ("what did this refresh actually do?").

    Plan: each side reduces to its (doc_id, source, content md5) spine in
    a narrow projection — the TEXT never crosses the wire — then ONE
    co-partitioned full-outer join on the key classifies every doc,
    and a tiny (sources x 4)-row aggregate summarizes.  Linear, one
    shuffle pair on the join key; at 100 TB with both snapshots
    bucketed by ``doc_id`` the join is exchange-free (the
    sinks.write_bucketed layout this engine already ships).
    """
    a = v1.select(
        F.col("doc_id"),
        F.col("source").alias("src_a"),
        F.md5(F.col("text")).alias("h_a"),
    )
    b = v2.select(
        F.col("doc_id"),
        F.col("source").alias("src_b"),
        F.md5(F.col("text")).alias("h_b"),
    )
    classified = a.join(b, "doc_id", "full_outer").select(
        F.coalesce("src_a", "src_b").alias("source"),
        F.when(F.col("h_a").isNull(), F.lit("added"))
        .when(F.col("h_b").isNull(), F.lit("removed"))
        .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    )
    return classified.groupBy("source", "change_type").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
