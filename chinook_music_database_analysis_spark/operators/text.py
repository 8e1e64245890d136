"""Text-analysis operators over the ``documents`` table.

All operators are pure DataFrame -> DataFrame, built from JVM-side
``pyspark.sql.functions`` only (no Python UDFs in any hot path), so
they stay inside whole-stage codegen and scale linearly with input
partitions — the 100 TB path is embarrassingly parallel per document.

Cross-engine determinism: every derived metric is integer/string math
or an explicitly-ordered float formula, so the DuckDB oracles in
plans/extensions.py reproduce values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: word-shingle width shared by dedup/fingerprint operators.
SHINGLE_K = 3

#: fixed-point scale of the integer IDF ``n_docs * IDF_SCALE div df``
#: shared by TF-IDF and both BM25 operators (and their oracles).
IDF_SCALE = 1_000_000

#: fixed-point scale of the per-term surprisal (integer millibits).
SURPRISAL_SCALE = 1000

#: Tiny function-word lists for the language-ID heuristic.  The point
#: is the operator shape (token-set overlap scoring), not lexicography.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "that"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "es": ("el", "los", "y", "que", "en", "un", "es", "se"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}


def tokens_expr() -> Column:
    """Whitespace tokenization of ``text`` (word-level; the shingle/stopword unit).
    The BPE-ish subword count lives in ``text_stats``'s n_subtokens
    (letter/digit/punctuation regex pieces)."""
    return F.split(F.trim(F.col("text")), r"\s+")


def shingles_from_tokens(toks_col: str = "toks", k: int = SHINGLE_K) -> Column:
    """Array of word k-gram shingles from a pre-split token-array
    column.

    Callers MUST project the token array first (``tokens_expr``):
    expressions referenced inside a higher-order-function lambda are
    re-evaluated per element, so inlining ``split(trim(text))`` into
    the ``slice`` makes shingling O(tokens²) per doc — measured 4.6x
    slower at k=8 on sf0.1.  Texts shorter than k words yield one
    (shorter) shingle; the k-element slice mirrors DuckDB's inclusive
    list slicing in the oracles.

    A NULL token array (NULL text) yields an EMPTY array — no
    shingles, so null-text docs drop out of every shingle-keyed
    candidate path, exactly as they do on the oracle side (DuckDB's
    unnest over a NULL list emits no rows).  Without the guard,
    Spark's ``greatest(size(NULL) - k + 1, 1)`` arm (greatest skips
    nulls) manufactures one ``''`` shingle per NULL doc, silently
    pairing ALL null-text docs with each other (caught by the fuzz
    gate's NULL-injection corpus, r12).
    """
    return F.expr(
        f"CASE WHEN {toks_col} IS NULL THEN array() ELSE "
        f"transform(sequence(1, greatest(size({toks_col}) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice({toks_col}, i, {k}))) END"
    )


def shingles_expr() -> Column:
    """Word SHINGLE_K-gram shingles of the raw ``text`` column (one-shot form).

    Word shingles (vs character shingles) cut the per-doc shingle count
    ~6x at equal near-dup sensitivity for natural text — a factor that
    multiplies straight into the minhash hash + shuffle cost.  Hot
    paths should pre-project ``tokens_expr`` and use
    :func:`shingles_from_tokens` instead — this convenience form pays
    the per-lambda-element re-split documented there.
    """
    toks = "split(trim(text), '\\\\s+')"
    return F.expr(
        "CASE WHEN text IS NULL THEN array() ELSE "
        f"transform(sequence(1, greatest(size({toks}) - {SHINGLE_K - 1}, 1)),"
        f" i -> concat_ws(' ', slice({toks}, i, {SHINGLE_K}))) END"
    )


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    # Built on the passed Column (r11 review: the old F.expr form
    # hardcoded the name 'toks' and silently ignored the parameter —
    # correct only because every caller happened to alias its token
    # array 'toks').
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_pred_expr(c: dict[str, Column]) -> Column:
    """Argmax over per-language score columns with a fixed priority
    tie-break (en > de > es > fr > zh) so the choice is deterministic
    and the DuckDB oracle's CASE reproduces it exactly."""
    return (
        F.when(
            (c["en"] >= c["de"]) & (c["en"] >= c["es"]) & (c["en"] >= c["fr"]) & (c["en"] >= c["zh"]),
            "en",
        )
        .when((c["de"] >= c["es"]) & (c["de"] >= c["fr"]) & (c["de"] >= c["zh"]), "de")
        .when((c["es"] >= c["fr"]) & (c["es"] >= c["zh"]), "es")
        .when(c["fr"] >= c["zh"], "fr")
        .otherwise("zh")
    )


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document token/quality metrics (length, token count, average
    token length, stopword ratio, and a composite quality score).

    Quality heuristic: longer docs with a healthy stopword ratio score
    higher — the standard cheap pre-filter in training-data pipelines.
    """
    toks = tokens_expr()
    d = docs.select("doc_id", "text", toks.alias("toks"))
    n_tokens = F.size("toks")
    # BPE-ish segmentation: alpha runs, digit runs, single punctuation.
    n_subtokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
    total_tok_chars = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    sw = _stopword_hits(F.col("toks"), LANG_STOPWORDS["en"])
    n_chars = F.length("text")
    stop_ratio = F.round(sw.cast("double") / n_tokens.cast("double"), 4)
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_subtokens.alias("n_subtokens"),
        F.round(total_tok_chars.cast("double") / n_tokens.cast("double"), 4).alias(
            "avg_token_len"
        ),
        stop_ratio.alias("stopword_ratio"),
        # score = min(1, tokens/100) * (0.5 + stopword share), rounded.
        F.round(
            F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(100.0))
            * (F.lit(0.5) + sw.cast("double") / n_tokens.cast("double")),
            4,
        ).alias("quality_score"),
    )


#: Gopher-style rule bounds (Rae et al. 2021 §A1.1, re-scaled to the
#: synthetic corpus).  Ratio bounds are FIXED-POINT (1e4) so every
#: rule evaluates in exact integer arithmetic on both engines.
GOPHER_MIN_TOKENS = 15
GOPHER_MAX_TOKENS = 5000
GOPHER_AVG_LEN_MIN_Q = 20_000  # mean token length >= 2.0
GOPHER_AVG_LEN_MAX_Q = 120_000  # mean token length <= 12.0
GOPHER_MIN_UNIQUE_Q = 3_000  # distinct-token fraction >= 0.30
GOPHER_MIN_STOP_HITS = 2  # >= 2 English function-word hits


def gopher_quality(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Gopher-style rule-chain quality filter: per-document signals,
    one boolean per rule, and the conjunctive ``keep`` verdict — the
    canonical cheap pre-filter of large-scale training-data pipelines
    (word-count band, mean-word-length band, lexical diversity floor,
    function-word floor).

    Every ratio is integer-quantized (1e4 fixed point, ``div``) before
    any comparison, so rule outcomes are bit-deterministic across
    engines — a float ratio at a rule boundary would make keep/drop
    depend on libm rounding.  Narrow map over one scan, no shuffle:
    at 100 TB this is the embarrassingly-parallel first pass, and the
    per-rule booleans (not just the verdict) are what an audit
    dashboard aggregates to see WHICH rule drops documents.

    ``carry`` names upstream columns threaded through unchanged, so a
    fused pipeline (pipe_filter_funnel) can compute hashes/flags in
    the SAME single scan instead of re-joining by doc_id.
    """
    toks = tokens_expr()
    d = docs.select("doc_id", "text", toks.alias("toks"), *carry)
    base = d.select(
        "doc_id",
        *carry,
        F.size("toks").alias("n_tokens"),
        (F.length(F.regexp_replace(F.col("text"), r"\s+", "")).cast("bigint") * 10_000)
        .alias("cq"),
        (F.size(F.array_distinct(F.col("toks"))).cast("bigint") * 10_000).alias("uq"),
        _stopword_hits(F.col("toks"), LANG_STOPWORDS["en"]).alias("sw_hits"),
    )
    scored = base.select(
        "doc_id",
        *carry,
        "n_tokens",
        F.expr("cq div n_tokens").alias("avg_len_q"),
        F.expr("uq div n_tokens").alias("unique_q"),
        "sw_hits",
    )
    # coalesce(FALSE): a NULL-text doc has NULL signals — it FAILS
    # every rule rather than carrying NULL verdicts (a quality filter
    # must always decide), and a nullable boolean column round-trips
    # as None/NaN inconsistently across engines (fuzz gate, r12)
    r_len = F.coalesce(
        F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS), F.lit(False)
    )
    r_avg = F.coalesce(
        F.col("avg_len_q").between(GOPHER_AVG_LEN_MIN_Q, GOPHER_AVG_LEN_MAX_Q),
        F.lit(False),
    )
    r_unique = F.coalesce(F.col("unique_q") >= GOPHER_MIN_UNIQUE_Q, F.lit(False))
    r_stop = F.coalesce(F.col("sw_hits") >= GOPHER_MIN_STOP_HITS, F.lit(False))
    return scored.select(
        "doc_id",
        *carry,
        "n_tokens",
        "avg_len_q",
        "unique_q",
        "sw_hits",
        r_len.alias("r_len"),
        r_avg.alias("r_avg_len"),
        r_unique.alias("r_unique"),
        r_stop.alias("r_stopwords"),
        (r_len & r_avg & r_unique & r_stop).alias("keep"),
    )


#: Fixed-weight linear quality classifier (CCNet-style cheap scorer):
#: score_q = (W_UNIQUE*unique_q + W_STOP*stop_q + W_LEN*len_q) div 10,
#: every signal 1e4 fixed point so the score and the tier cut are exact
#: integer arithmetic on both engines.  The length signal saturates at
#: QC_LEN_CAP tokens (credit for substance, no reward for bloat).
QC_W_UNIQUE = 4
QC_W_STOP = 3
QC_W_LEN = 3
QC_LEN_CAP = 250
QC_LEN_SCALE = 40  # least(n_tokens, 250) * 40 tops out at 10_000
QC_T_HIGH = 3_000  # curriculum tier cuts (≈ p75 / p25 on the corpus)
QC_T_MID = 2_550


def quality_classifier(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Fixed-weight integer quality classifier + curriculum tier.

    The shape of the fastText/CCNet-style quality scorer every
    training-data pipeline runs before mixing: a linear combination of
    cheap lexical signals (diversity, function-word density, saturated
    length credit) mapped to an ordinal curriculum bucket
    (high / mid / low) that downstream samplers key on.

    All arithmetic is integer fixed point (1e4), so the tier boundary
    is bit-deterministic across engines — a float score at a cut point
    would flip tiers on libm rounding.  Narrow map over one scan, zero
    shuffle: at 100 TB this fuses into the same codegen stage as the
    other per-document filters (see pipe_filter_funnel).

    ``carry`` threads upstream columns through unchanged (same contract
    as :func:`gopher_quality`), so consumers like the corpus-health
    rollup score and aggregate in the SAME scan instead of re-joining.
    """
    d = docs.select("doc_id", tokens_expr().alias("toks"), *carry)
    base = d.select(
        "doc_id",
        *carry,
        F.size("toks").alias("n_tokens"),
        (F.size(F.array_distinct(F.col("toks"))).cast("bigint") * 10_000).alias("uq"),
        (
            _stopword_hits(F.col("toks"), LANG_STOPWORDS["en"]).cast("bigint") * 10_000
        ).alias("swq"),
    )
    sig = base.select(
        "doc_id",
        *carry,
        "n_tokens",
        F.expr("uq div n_tokens").alias("unique_q"),
        F.expr("swq div n_tokens").alias("stop_q"),
        (F.least(F.col("n_tokens"), F.lit(QC_LEN_CAP)).cast("bigint") * QC_LEN_SCALE)
        .alias("len_q"),
    )
    score = F.expr(
        f"({QC_W_UNIQUE} * unique_q + {QC_W_STOP} * stop_q + {QC_W_LEN} * len_q)"
        " div 10"
    )
    return sig.select(
        "doc_id",
        *carry,
        "n_tokens",
        "unique_q",
        "stop_q",
        "len_q",
        score.alias("score_q"),
        F.when(score >= QC_T_HIGH, F.lit("high"))
        .when(score >= QC_T_MID, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("tier"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram-heuristic language ID: score = count of tokens hitting
    each language's function-word list; argmax with a fixed priority
    tie-break (en > de > es > fr > zh) so the choice is deterministic.
    """
    d = docs.select("doc_id", "lang", tokens_expr().alias("toks"))
    scores = {
        lang: _stopword_hits(F.col("toks"), words) for lang, words in LANG_STOPWORDS.items()
    }
    c = {lang: F.col(f"c_{lang}") for lang in scores}
    scored = d.select(
        "doc_id", "lang", *[expr.alias(f"c_{lang}") for lang, expr in scores.items()]
    )
    return scored.select("doc_id", "lang", lang_pred_expr(c).alias("pred_lang"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprints: a full-content hash (exact-dup key over
    whitespace-normalized text) and a min-shingle signature (stable
    under small edits — the rolling-hash analog built from md5, which
    both engines implement identically)."""
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    d = docs.select("doc_id", norm.alias("norm_text"), shingles_expr().alias("sh"))
    return d.select(
        "doc_id",
        F.md5("norm_text").alias("content_hash"),
        F.expr("array_min(transform(sh, s -> md5(s)))").alias("min_shingle_sig"),
    )


def tfidf_top_terms(
    postings: DataFrame,
    n_docs: int,
    top_k: int = 3,
    max_tf: int | None = None,
) -> DataFrame:
    """Top ``top_k`` characteristic terms per document by TF-IDF — the
    keyword-extraction pass feeding corpus exploration and topic
    labeling.

    IDF is **integer-quantized**: ``idf_q = (n_docs * IDF_SCALE) div
    document_frequency`` (monotone in N/df, a fixed-point inverse
    document frequency).  All scoring stays in exact int64 arithmetic,
    so the ranking — and the DuckDB oracle — is bit-deterministic; a
    float ``ln`` would rank identically but hash-differently across
    libm builds.  ``n_docs`` is the corpus count, derived once by the
    caller (same stats-pass pattern as the ANN parameter derivation).

    ``postings`` is the (doc_id, term, tf) inverted relation
    (:func:`bm25_corpus_relations` — tokenize, explode and the (doc,
    term) count, typically store-served, so consumers sharing the BM25
    store never re-tokenize the corpus per execution).

    Plan (all linear, no corpus-wide sort): term frequency per (doc,
    term) from ``postings`` → hash-agg document frequency
    keyed by term (one row per vocab term) → join idf back keyed by
    term → per-doc top-k window keyed by doc.  The vocab relation is
    data-sized, so the idf join is a plain shuffled hash join (AQE
    broadcasts it when small); no stage holds more than the exploded
    (doc, term) relation, which is the corpus token stream itself.
    Skew note: universal terms ("the") put ~n_docs rows in one join
    partition — AQE's skew-join split handles it (the idf side is
    1 row per term, freely replicable), or pre-filter stopwords when
    the ranking doesn't need them.

    Int64 bound (the bm25_topk ``max_dl`` pattern, r11): the score is
    ``tf * idf_q`` with ``idf_q <= n_docs * IDF_SCALE`` (df >= 1), so
    a df=1 term wraps once ``tf > (2^63-1)/(n_docs*IDF_SCALE)``, about
    9.2e12/n_docs — e.g. tf > 92 on a 10^11-doc corpus.  Pass
    ``max_tf`` (the corpus' max per-doc term frequency, one ANALYZE
    scalar) to arm the guard: wrapping
    under non-ANSI mode would otherwise rank by a silently negative
    score.
    """
    from pyspark.sql import Window

    if max_tf is not None and max_tf * n_docs > (2**63 - 1) // IDF_SCALE:
        raise OverflowError(
            f"TF-IDF fixed-point score would exceed int64: max_tf={max_tf} "
            f"* n_docs={n_docs} > (2^63-1)/{IDF_SCALE} — lower IDF_SCALE "
            "or pre-filter the hot terms"
        )
    idf = postings.groupBy("term").agg(
        F.expr(f"CAST({n_docs} AS BIGINT) * {IDF_SCALE} div count(1)").alias("idf_q")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        postings.join(idf, "term")
        .select("doc_id", "term", "tf", (F.col("tf") * F.col("idf_q")).alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("doc_id", "term", "tf", "score", "rnk")
    )


def unigram_surprisal(postings: DataFrame) -> DataFrame:
    """Per-document unigram-LM cross-entropy (bits/token) — the cheap
    stand-in for the CCNet/Wikipedia-LM perplexity filter used in
    training-data pipelines: documents whose tokens are "too
    predictable" under the corpus unigram model (low bits/token) are
    boilerplate/repetitive; "too surprising" ones are noise/garbled.
    Pipelines keep a middle band.

    Determinism: per-token surprisal ``log2(total/count)`` is
    **fixed-point quantized once per distinct vocabulary term**
    (``s_q = ROUND(log2(total/cnt) * SURPRISAL_SCALE)`` as int64), then all
    per-document accumulation is exact integer math — the same
    integer-quantization trick as tfidf_top_terms' IDF, so the DuckDB
    oracle reproduces sums bit-exactly regardless of float summation
    order.  The per-token mean stays fixed-point too
    (``mb_per_token = q_millibits div n_tokens``, integer millibits):
    a float ROUND of the ratio is NOT cross-engine stable — the ratio
    lands on exact decimal half-boundaries (denominator n_tokens*1000),
    where Spark's BigDecimal-on-shortest-repr HALF_UP and DuckDB's
    scale-then-round-the-double disagree (observed at sf0.01).

    Plan — the tfidf shape, all linear: the (doc, term, tf)
    ``postings`` (:func:`bm25_corpus_relations`) -> vocab hash-agg
    (one row per term, with the corpus total as a broadcast 1-row
    aggregate: no driver-side count) ->
    idf-style join keyed by term -> per-doc hash-agg.  Universal-term
    join skew is AQE-split like tfidf's.
    """
    vocab = postings.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    term_s = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.expr(
            f"CAST(ROUND(log2(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE))"
            f" * {SURPRISAL_SCALE}) AS BIGINT)"
        ).alias("s_q"),
    )
    return (
        postings.join(term_s, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("s_q")).alias("q_millibits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "q_millibits",
            F.expr("q_millibits div n_tokens").alias("mb_per_token"),
        )
    )


def sentence_udtf():
    """Python UDTF (Spark 4 table-function API) splitting a document
    into numbered sentences — the lateral-join text surface for
    row-expanding transforms whose output cardinality varies per row.

    UDTFs are row-at-a-time Python: correct for control-flow-heavy
    expansion logic, but the HOT path for simple splits remains the
    JVM-side ``explode(split(...))`` (see tokens_expr) — this exists
    to cover the API surface, and the test pins its equivalence to the
    builtin form so either can serve.

    Returns the udtf class; register with
    ``spark.udtf.register("split_sentences", sentence_udtf())``.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_id int, sentence string")
    class SplitSentences:
        def eval(self, text: str):  # noqa: D102 — UDTF contract
            if text is None:
                return
            start, sent_id = 0, 0
            for i, ch in enumerate(text):
                if ch in ".!?":
                    s = text[start : i + 1].strip()
                    if s:
                        yield sent_id, s
                        sent_id += 1
                    start = i + 1
            tail = text[start:].strip()
            if tail:
                yield sent_id, tail

    return SplitSentences


def zscore_by_source(docs: DataFrame) -> DataFrame:
    """Per-source z-score of document token counts via grouped-map
    ``applyInPandas`` — the Arrow-batched per-group Python escape hatch
    (each source's rows arrive as ONE pandas frame).

    The same result is expressible with window aggregates (the test
    pins equivalence); this exists for the genuinely-imperative
    per-group kernels (sklearn-style fits, iterative solvers) where a
    whole-group pandas frame is the right interface.  Scale: one
    shuffle keyed by source; each group must fit one executor's memory
    — for high-cardinality grouping that holds by construction, for
    few huge groups prefer the window form.
    """
    import pandas as pd

    counted = docs.select(
        "doc_id", "source", F.size(tokens_expr()).cast("double").alias("n_tokens")
    )

    def _z(pdf: "pd.DataFrame") -> "pd.DataFrame":
        mu = pdf["n_tokens"].mean()
        # population std (ddof=0) to match the window stddev_pop form
        sd = pdf["n_tokens"].std(ddof=0)
        z = (pdf["n_tokens"] - mu) / sd if sd > 0 else pdf["n_tokens"] * 0.0
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "source": pdf["source"], "z_tokens": z.round(6)}
        )

    return counted.groupBy("source").applyInPandas(
        _z, schema="doc_id long, source string, z_tokens double"
    )


#: BM25 fixed-point knobs.  k1=1.2 and b=0.75 (the standard Robertson
#: defaults) are folded into exact integer arithmetic below; SCALE is
#: the fixed-point denominator for the length-normalized tf ratio.
BM25_SCALE = 1000


def bm25_corpus_relations(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The corpus-side BM25 artifacts a serving deployment persists
    beside the corpus: the full ``(doc_id, term, tf)`` inverted
    postings relation and the ``(doc_id, dl)`` document-length
    relation.  Both are linear in corpus token count and built with
    one scan + one hash-agg; :func:`bm25_topk`, :func:`bm25_batch_topk`,
    :func:`tfidf_top_terms` and :func:`unigram_surprisal` consume them,
    so repeated retrieval batches never re-tokenize the corpus (the
    RAG-serving shape at 100 TB — plans/curation_queries serves both
    from the fingerprint-guarded index store).

    The postings relation is clustered by term (hash repartition +
    sort-within-partitions) so a parquet store of it carries term
    min/max row-group statistics: a query bag's ``term IN (...)``
    filter then prunes row groups at scan time instead of reading the
    whole vocabulary back."""
    toks = docs.select("doc_id", tokens_expr().alias("toks"))
    postings = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .repartition("term")
        .sortWithinPartitions("term")
    )
    doclens = toks.select("doc_id", F.size("toks").alias("dl"))
    return postings, doclens


def bm25_topk(
    postings: DataFrame,
    doclens: DataFrame,
    query_terms: tuple[str, ...],
    n_docs: int,
    total_tokens: int,
    top_k: int = 20,
    max_dl: int | None = None,
) -> DataFrame:
    """BM25 keyword retrieval: top ``top_k`` documents for a bag of
    query terms — the lexical half of a RAG retrieval stack (the dense
    half is the sim_* ANN family).

    **Fixed-point scoring** (the repo's determinism pattern, see
    :func:`tfidf_top_terms`): with k1 = 6/5 and b = 3/4, the BM25 term
    ratio  tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl)  multiplied
    through by 10*avgdl_q (avgdl_q = total_tokens*SCALE div n_docs, a
    fixed-point average doc length) becomes the exact integer ratio

        22*tf*avgdl_q  /  (10*tf*avgdl_q + 3*avgdl_q + 9*SCALE*dl)

    quantized as ratio_q = (num * SCALE) div den  (bounded by
    2.2*SCALE regardless of corpus size), and IDF is the same
    integer-quantized surrogate as TF-IDF: idf_q = n_docs*IDF_SCALE
    div df (monotone in the Robertson idf).  score = sum over query
    terms of idf_q * ratio_q — all int64, bit-identical on Spark and
    DuckDB.  Magnitude bounds (both sides of the product):

    - idf side: idf_q <= n_docs*IDF_SCALE, so the per-term product
      idf_q * ratio_q stays inside int64 for corpora up to ~4e9
      documents at IDF_SCALE.
    - ratio side: the un-divided numerator 22*tf*avgdl_q*SCALE must
      itself fit int64 BEFORE the div, which requires tf*avgdl_q <=
      (2^63-1)/(22*SCALE) ~= 4.2e14 — with avgdl_q = SCALE*avgdl
      that is tf*avgdl <= 4.2e11 (e.g. average doc length 1e5 tokens
      allows per-doc tf up to ~4.2e6; tf <= dl, so any corpus with
      max_dl*avgdl below the bound is safe).  Pass ``max_dl`` (the
      corpus max document length, a stats-pass scalar like n_docs) to
      assert the bound at plan-build time instead of silently
      wrapping: OverflowError if max_dl*avgdl_q exceeds it.

    ``postings``/``doclens`` come from :func:`bm25_corpus_relations`
    (typically store-served): the query-bag filter is a pushed-down
    parquet predicate over the term-clustered postings table rather
    than a full-corpus token explode.

    Plan shape (all linear): the postings filtered to the query bag,
    df hash-agg over the tf relation (|query| rows -> broadcast),
    doc-length join keyed by doc, per-doc sum, then a global top-k that compiles to
    TakeOrderedAndProject — no corpus-wide sort.  n_docs /
    total_tokens are caller-provided stats-pass scalars.
    """
    from pyspark.sql import Window

    qt = list(query_terms)
    avgdl_q = (total_tokens * BM25_SCALE) // n_docs
    if max_dl is not None and max_dl * avgdl_q > (2**63 - 1) // (22 * BM25_SCALE):
        raise OverflowError(
            f"BM25 fixed-point numerator would exceed int64: max_dl={max_dl} "
            f"* avgdl_q={avgdl_q} > (2^63-1)/(22*{BM25_SCALE}); reduce "
            "BM25_SCALE or truncate pathological documents"
        )
    tf = postings.filter(F.col("term").isin(qt)).select("doc_id", "term", "tf")
    dl = doclens.select("doc_id", "dl")
    idf = tf.groupBy("term").agg(
        F.expr(f"CAST({n_docs} AS BIGINT) * {IDF_SCALE} div count(1)").alias("idf_q")
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.expr(
                f"idf_q * ((22 * tf * CAST({avgdl_q} AS BIGINT) * {BM25_SCALE}) div "
                f"(10 * tf * CAST({avgdl_q} AS BIGINT)"
                f" + 3 * CAST({avgdl_q} AS BIGINT) + 9 * {BM25_SCALE} * dl))"
            ).alias("term_score"),
        )
    )
    top = (
        scored.groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"), F.count(F.lit(1)).alias("n_terms_hit"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(top_k)
    )
    # rank over the already-LIMITed <= top_k rows: a single tiny
    # partition, not a corpus-wide unpartitioned window
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.select(
        "doc_id", "score", "n_terms_hit",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def bm25_batch_topk(
    postings: DataFrame,
    doclens: DataFrame,
    queries: "dict[int, tuple[str, ...]]",
    n_docs: int,
    total_tokens: int,
    top_k: int = 5,
    max_dl: int | None = None,
) -> DataFrame:
    """Batch BM25 retrieval: per-query top-k over the persisted
    postings store for a BATCH of query bags — the amortized serving
    shape (one postings scan serves every query in the batch; the
    single-query form re-scans per call).

    Same fixed-point integer scoring as :func:`bm25_topk` (identical
    term_score per (doc, term); IDF depends only on the term, so batch
    and single-query scores agree exactly).  Plan shape: the postings
    scan is filtered to the UNION of the batch's terms (pushed-down
    parquet predicate on the term-clustered store), per-term IDF and
    the (query_id, term) bag relation are broadcast, and the per-query
    top-k compiles to one WindowGroupLimit — no per-query jobs, no
    corpus-wide sort.  Batch cost ~ |terms in batch| postings rows,
    independent of batch size beyond that.
    """
    from pyspark.sql import Window

    spark = postings.sparkSession
    avgdl_q = (total_tokens * BM25_SCALE) // n_docs
    if max_dl is not None and max_dl * avgdl_q > (2**63 - 1) // (22 * BM25_SCALE):
        raise OverflowError(
            f"BM25 fixed-point numerator would exceed int64: max_dl={max_dl} "
            f"* avgdl_q={avgdl_q} > (2^63-1)/(22*{BM25_SCALE})"
        )
    # dedupe each bag: a duplicated query term would double its rows
    # through the qrel join and double-count its term_score, breaking
    # the documented exact agreement with bm25_topk (whose isin()
    # candidate filter dedups implicitly) — r11 review
    qrel = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(queries.items()) for t in sorted(set(ts))],
        "query_id int, term string",
    )
    terms = sorted({t for ts in queries.values() for t in ts})
    tf = postings.filter(F.col("term").isin(terms)).select("doc_id", "term", "tf")
    idf = tf.groupBy("term").agg(
        F.expr(f"CAST({n_docs} AS BIGINT) * {IDF_SCALE} div count(1)").alias("idf_q")
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(doclens.select("doc_id", "dl"), "doc_id")
        .select(
            "doc_id",
            "term",
            F.expr(
                f"idf_q * ((22 * tf * CAST({avgdl_q} AS BIGINT) * {BM25_SCALE}) div "
                f"(10 * tf * CAST({avgdl_q} AS BIGINT)"
                f" + 3 * CAST({avgdl_q} AS BIGINT) + 9 * {BM25_SCALE} * dl))"
            ).alias("term_score"),
        )
    )
    per_query = (
        scored.join(F.broadcast(qrel), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("term_score").alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        per_query.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score", "n_terms_hit", "rank")
    )


#: reciprocal-rank-fusion constants: the standard k=60 (Cormack et
#: al., SIGIR'09 — robust across collections without tuning) with an
#: integer scale so every contribution is an exact int64.
RRF_K = 60
RRF_SCALE = 1_000_000_000


def rrf_fuse(
    rankings: "list[DataFrame]",
    top_k: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval lists — the standard
    combiner for a hybrid sparse (BM25) + dense (ANN) retrieval stack.

    Each input DataFrame carries ``(doc_id, rank)`` with a 1-based
    deterministic rank.  A list's contribution to a document is the
    exact integer ``RRF_SCALE div (RRF_K + rank)`` (absent -> contributes
    nothing), so the fused score — the sum over lists — is pure int64
    and bit-identical across engines; ties break on id.

    Plan shape: union-all of the (already tiny, <= depth-row) ranked
    lists + one hash-agg — NO joins, linear in the sum of list
    lengths; the final top_k sorts a handful of rows.  At serving
    scale the inputs are each a top-depth result of their own
    retrieval plan (TakeOrderedAndProject), so fusion cost is
    independent of corpus size.

    ``group_col`` fuses a BATCH of queries in one pass: each input
    then carries (group_col, doc_id, rank) and fusion/top_k run per
    group — the per-group rank filter compiles to WindowGroupLimit,
    so a thousand-query batch still makes one plan.
    """
    from functools import reduce

    from pyspark.sql import Window

    keys = ([group_col] if group_col else []) + ["doc_id"]
    contribs = [
        r.select(
            *keys,
            F.expr(f"CAST({RRF_SCALE} AS BIGINT) div ({RRF_K} + rank)").alias("c"),
        )
        for r in rankings
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), contribs)
        .groupBy(*keys)
        .agg(F.sum("c").alias("rrf_score"), F.count(F.lit(1)).alias("n_lists"))
    )
    if group_col is None:
        fused = fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(top_k)
        w = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
        return fused.select(
            "doc_id", "rrf_score", "n_lists",
            F.row_number().over(w).cast("int").alias("rank"),
        )
    w = Window.partitionBy(group_col).orderBy(F.col("rrf_score").desc(), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select(group_col, "doc_id", "rrf_score", "n_lists", "rank")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer induction: merge learning + merge-table application.
#
# tx_bpe_merges (plans/scale_queries.py) counts first-round merge
# candidates; these operators close the loop (r9): learn R merges by
# the classic greedy re-count (Sennrich et al., ACL 2016) and APPLY
# each to re-segment the corpus, reporting the compression the merge
# table buys.  The scale invariant is the same dictionary split the
# count pass uses: after the one corpus-shuffle token count, every
# round touches only the DISTINCT-WORD dictionary weighted by counts —
# at 100 TB the corpus is trillions of tokens but the dictionary is
# millions of rows, so R merge rounds cost R dictionary sweeps, never
# R corpus passes.
# ---------------------------------------------------------------------------

#: symbol separator inside a word's segmentation string.  A control
#: char that cannot appear in whitespace-split corpus tokens, so
#: whole-symbol boundary checks are exact (no Sennrich-style regex
#: lookbehind needed — ASCII 0x1f is not produced by any tokenizer).
BPE_SEP = "\x1f"


def bpe_initial_seq(tok: Column) -> Column:
    """Character-level segmentation of one word: its chars joined by
    :data:`BPE_SEP` (round 0 of BPE — every symbol is one char).

    Guarded for the empty token: Spark's ``sequence(1, 0)`` DESCENDS
    to ``[1, 0]`` (two empty substrings -> a phantom 2-symbol
    segmentation whose ('','') pair would skew the learned merge
    table), while the oracle's ``range(1, len+1)`` is empty.  The
    ``greatest`` clamp makes '' segment to one empty symbol on both
    engines; dictionary builders additionally filter empty tokens out
    (they are not words — a whitespace-only document contributes
    nothing to BPE training)."""
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(tok), F.lit(1))),
            lambda i: F.substring(tok, i, 1),
        ),
        BPE_SEP,
    )


def bpe_pair_counts(seq_df: DataFrame) -> DataFrame:
    """(x, y, n_pair): adjacent-symbol pair frequencies over the
    dictionary, weighted by word count — the statistic one greedy
    merge round argmaxes over.  Dictionary-sized: the explode emits
    (symbols-1) rows per DISTINCT word."""
    syms = F.split(F.col("seq"), BPE_SEP)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("x"),
            F.element_at(syms, i + 1).alias("y"),
        ),
    )
    return (
        seq_df.filter(F.size(syms) >= 2)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.sum("cnt").cast("bigint").alias("n_pair"))
    )


def bpe_merge_expr(seq: Column, x: str, y: str) -> Column:
    """Apply ONE merge (x, y) -> xy to a segmentation string, exactly
    BPE's left-to-right non-overlapping scan.  Implemented as a fold
    over the symbol list with the segmentation STRING as state: when
    the incoming symbol is ``y`` and the state's last WHOLE symbol is
    ``x`` (equality or a sep-boundary-guarded suffix — never a partial
    symbol match), append without a separator, fusing them.  A fused
    symbol is strictly longer than ``x``, so it can never re-match as
    the left side within the same round — the fold IS the scan.  The
    identical fold runs in the DuckDB oracle (list_reduce), so learned
    merges are bit-comparable across engines."""
    syms = F.split(seq, BPE_SEP)
    init = F.element_at(syms, 1)
    rest = F.slice(syms, F.lit(2), F.greatest(F.size(syms) - 1, F.lit(0)))

    def step(acc: Column, s: Column) -> Column:
        hit = (s == F.lit(y)) & (
            (acc == F.lit(x)) | acc.endswith(F.lit(BPE_SEP + x))
        )
        return F.when(hit, F.concat(acc, s)).otherwise(
            F.concat(acc, F.lit(BPE_SEP), s)
        )

    return F.aggregate(rest, init, step)


def bpe_train(wc: DataFrame, rounds: int) -> list[dict]:
    """Greedy BPE training over a (tok, cnt) dictionary: ``rounds``
    iterations of count-pairs -> argmax -> apply-merge.  Returns the
    merge table [{rnd, x, y, n_pair, seq_df}, ...] where ``seq_df`` is
    the dictionary segmentation AFTER that round's merge (lazy — one
    narrow fold per round over the cached dictionary).

    The per-round argmax is a 1-row collect (the ANALYZE-pattern
    scalar every iterative operator here uses — PageRank's supersteps,
    k-means' Lloyd steps); ties break deterministically on
    (n_pair DESC, x, y) so both engines learn the same table.

    Each round's segmentation is PERSISTED before the next round's
    argmax: round r's job then computes exactly ONE fold layer on top
    of the cached round r-1 instead of replaying all r-1 folds from
    the raw dictionary — O(R) fold layers total across training, not
    O(R^2).  The cached relations are dictionary-sized (distinct
    words), so R of them cost ~R x the dictionary, trivial against
    the corpus.
    """
    seq = wc.select("tok", "cnt", bpe_initial_seq(F.col("tok")).alias("seq"))
    table: list[dict] = []
    for rnd in range(1, rounds + 1):
        best = (
            bpe_pair_counts(seq)
            .orderBy(F.col("n_pair").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1)
            .collect()
        )
        if not best:
            raise RuntimeError(
                f"BPE round {rnd}: no adjacent pairs left in the dictionary "
                f"(every word fully merged) — lower rounds below {rounds}"
            )
        b = best[0]
        seq = seq.select(
            "tok", "cnt", bpe_merge_expr(F.col("seq"), b["x"], b["y"]).alias("seq")
        ).persist()
        table.append(
            {"rnd": rnd, "x": b["x"], "y": b["y"], "n_pair": int(b["n_pair"]), "seq_df": seq}
        )
    return table
