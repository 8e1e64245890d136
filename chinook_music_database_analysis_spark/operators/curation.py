"""Corpus-curation operators: deterministic sampling / splits, PII
redaction, boilerplate detection, benchmark decontamination, and
canonical-document selection.

These are the dataset-curation stages of a training-data pipeline (the
steps C4/RefinedWeb-style corpora run between raw crawl and tokenizer):

* sampling / train-val-test splits must be **deterministic and
  content-addressed** (re-running the pipeline on a grown corpus must
  not reshuffle old docs between splits), so both use a salted md5 of
  the stable doc key rather than ``rand()``;
* PII redaction is a pure narrow map (regex, JVM-side codegen);
* boilerplate detection is the n-gram analogue of C4's repeated-line
  filter: an n-gram occurring in many distinct documents is template
  text, and each document is scored by the fraction of its n-grams
  that are boilerplate;
* decontamination drops training docs sharing a wide (k=8) n-gram with
  a held-out benchmark set — the semi-join is built so the (small,
  fixed-size) benchmark side is the broadcast side and the corpus is
  never shuffled;
* canonical selection keeps one representative per near-dup cluster.

Scale notes (100 TB): sampling/split/redaction are shuffle-free narrow
maps.  Boilerplate costs one shuffle keyed by n-gram (the global
document-frequency agg) plus one n-gram-keyed join back — both scale
linearly and skew only on genuinely-global n-grams, which the
``min_df`` threshold turns into tiny aggregate rows, not join fanout.
Decontamination broadcasts the benchmark shingle set (benchmarks are
fixed-size; the corpus is what grows), so the big side is map-side
only.  All md5-keyed logic reproduces bit-identically in the DuckDB
oracles (md5 is md5 everywhere).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import shingles_from_tokens, tokens_expr

#: Wide shingle width for decontamination — 8-gram overlap is the
#: common contamination test (matches the 8-13-gram range used by
#: published decontamination recipes); 3-grams would flag nearly
#: everything on a small vocabulary.
DECONTAM_K = 8

def _hash_bucket(key: Column, salt: str) -> Column:
    """First 4 hex chars of md5(salt|key) — a uniform draw from
    0x0000..0xffff, compared lexicographically against hex thresholds
    (fixed-width lowercase hex orders identically as string or int,
    and md5 agrees bit-for-bit between Spark and DuckDB)."""
    return F.substring(F.md5(F.concat(F.lit(salt + "|"), key.cast("string"))), 1, 4)


def pct_threshold(pct: float) -> str:
    """Hex threshold h such that P[bucket < h] ~= pct/100 (exact to
    1/65536).  Fractions that round to 100% map to a 5-char sentinel
    that sorts AFTER every 4-char hex bucket ('ffff' < 'fffff' by the
    string prefix rule) — the naive format of 0x10000 is '10000',
    which sorts lexicographically BELOW all buckets >= '1000' and
    silently kept ~6% of rows instead of all of them (r11 review).
    Both engines compare against the literal this one helper emits,
    so the fix cannot drift the dialects."""
    n = int(round(pct / 100.0 * 0x10000))
    return "fffff" if n >= 0x10000 else format(n, "04x")


def hash_sample(df: DataFrame, key: str, pct: float, salt: str = "sample") -> DataFrame:
    """Deterministic content-addressed sample of ~pct% of rows.

    Unlike ``df.sample()`` (seeded per-partition-split, so resampling
    after a repartition or append changes membership), the md5 bucket
    depends only on the row key: stable under re-runs, appends and
    repartitioning — the property curation pipelines need for
    reproducible subsets.  Narrow map, no shuffle.
    """
    return df.filter(_hash_bucket(F.col(key), salt) < F.lit(pct_threshold(pct)))


def train_val_test_split(
    df: DataFrame,
    key: str,
    val_pct: float = 10.0,
    test_pct: float = 10.0,
    salt: str = "split",
) -> DataFrame:
    """Assign each row a deterministic ``split`` label (train/val/test).

    Content-addressed like :func:`hash_sample`; a doc keeps its split
    forever, and new docs distribute ~(100-val-test)/val/test.  Narrow
    map, no shuffle.
    """
    b = _hash_bucket(F.col(key), salt)
    return df.withColumn(
        "split",
        F.when(b < F.lit(pct_threshold(test_pct)), F.lit("test"))
        .when(b < F.lit(pct_threshold(test_pct + val_pct)), F.lit("val"))
        .otherwise(F.lit("train")),
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    key: str,
    cap: int,
) -> DataFrame:
    """Per-domain document quota (RefinedWeb-style source balancing).

    Keeps at most ``cap`` rows per ``domain_col`` value, chosen by a
    deterministic content-addressed priority — ``md5('domaincap|' || key)`` — so
    which documents survive is a pure function of their keys: stable
    under re-runs, appends, and repartitioning, exactly like
    :func:`hash_sample`.  The ``key`` tie-break makes the full order
    total, so the survivor set is unique even on md5-prefix collisions.

    Scale shape (100 TB): rank-filter over a window ≤ cap is the plan
    Catalyst rewrites to ``WindowGroupLimit`` — each input partition
    keeps only its local top-``cap`` per domain BEFORE the exchange, so
    the shuffle carries at most ``cap × domains × partitions`` rows, not
    the corpus.  A mega-domain (the crawl's wikipedia.org) therefore
    bounds its shuffle contribution at ``cap`` per upstream partition
    instead of flooding one reducer.
    """
    pri = F.md5(F.concat(F.lit("domaincap|"), F.col(key).cast("string")))
    w = Window.partitionBy(domain_col).orderBy(pri.asc(), F.col(key).asc())
    return (
        df.withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= cap)
    )


def line_dedup(docs: DataFrame, seg_k: int, min_df: int) -> DataFrame:
    """C4-style cross-document line dedup, REMEDIATION included: split
    each document into consecutive non-overlapping ``seg_k``-token
    segments (the corpus has no newlines, so fixed-width segments stand
    in for C4's lines), drop every segment that appears in at least
    ``min_df`` distinct documents, and REBUILD the cleaned text in
    original segment order.  Returns (doc_id, n_segments, n_dropped,
    clean_text).

    Scale shape (100 TB): one segment-keyed shuffle computes document
    frequencies with map-side combine; the duplicated-segment
    dictionary (only df >= min_df survivors — the same bounded-output
    argument as the boilerplate bigram set) joins back over the
    exploded corpus with NO forced hint: AQE sees the post-aggregation
    size at runtime and broadcasts when it fits, so the corpus itself
    is never shuffled for the membership test in the common case, and
    if the dictionary ever outgrows the broadcast budget the join
    genuinely degrades to a segment-keyed shuffle join (a forced
    F.broadcast would instead OOM — the hint bypasses
    autoBroadcastJoinThreshold); reconstruction is one doc-keyed
    shuffle.
    ``collect_list`` over (pos, seg) structs + ``array_sort`` makes the
    rebuild order-deterministic whatever the shuffle served.
    """
    toks = tokens_expr()
    segs = F.expr(
        f"transform(sequence(0, (size(toks)-1) div {seg_k}), "
        f"i -> struct(i AS pos, array_join(slice(toks, i*{seg_k}+1, {seg_k}), ' ') AS s))"
    )
    seg = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(segs).alias("u"))
        .select("doc_id", F.col("u.pos").alias("pos"), F.col("u.s").alias("s"))
    )
    dup = (
        seg.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("s", F.lit(True).alias("is_dup"))
    )
    flagged = seg.join(dup, "s", "left").withColumn(
        "is_dup", F.coalesce(F.col("is_dup"), F.lit(False))
    )
    kept = F.when(~F.col("is_dup"), F.struct("pos", "s"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("is_dup").cast("int")).cast("bigint").alias("n_dropped"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept)), lambda x: x["s"]),
            " ",
        ).alias("clean_text"),
    )


#: (pattern, replacement) redaction rules.  Patterns stick to the
#: regex subset shared by Java (Spark codegen) and RE2 (DuckDB):
#: character classes + bounded quantifiers, no lookaround.
PII_RULES: tuple[tuple[str, str], ...] = (
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"\d{3}-\d{3}-\d{4}", "<PHONE>"),
    (r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
)


def redact_pii(df: DataFrame) -> DataFrame:
    """Redact emails / phone numbers / IPv4s from ``text``.

    Adds ``clean_text`` (redacted) and ``n_redacted`` (replacements
    actually performed).  Pure narrow map — a chain of JVM-side
    regexp_replace calls inside one codegen stage; nothing leaves the
    executor.  Each rule's matches are counted on the text AFTER the
    earlier rules ran (r11 review: counting every rule against the
    ORIGINAL text double-counted spans matched by two rules — e.g. an
    IP embedded in an email's domain — while only one replacement
    happened, overstating the audit count; the replacement tokens
    contain no digits or '@', so they can never feed a later rule's
    count).  The DuckDB oracle stages its counts identically.
    """
    n = F.lit(0)
    clean = F.col("text")
    for pat, rep in PII_RULES:
        n = n + F.size(F.regexp_extract_all(clean, F.lit(pat), 0))
        clean = F.regexp_replace(clean, pat, rep)
    return df.withColumn("n_redacted", n).withColumn("clean_text", clean)


def boilerplate_set(shingles: DataFrame, min_df: int) -> DataFrame:
    """The corpus's template dictionary: distinct n-grams occurring in
    >= min_df documents, as (s, is_boiler=true) — small by construction
    of min_df and a deterministic function of the corpus, so callers
    persist it beside the other index relations."""
    return (
        shingles.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= F.lit(min_df))
        .select("s", F.lit(True).alias("is_boiler"))
    )


def boilerplate_score(shingles: DataFrame, boiler_set: DataFrame) -> DataFrame:
    """Per-document boilerplate ratio: the fraction of a doc's distinct
    n-grams that are in the template dictionary ``boiler_set`` (C4's
    repeated-line filter, n-gram form).

    Plan (two corpus-scale shuffles, no corpus-wide distinct): the
    (doc_id, s) ``shingles`` relation dedups per doc inside the row
    (``array_distinct`` before the explode — a narrow map), so the only
    full shuffles are the document-frequency agg keyed by shingle and
    the final doc-keyed agg.  The DF relation is filtered down to the boilerplate set
    (template n-grams only — small by construction of min_df) and
    **broadcast** into a left join; the (doc, shingle) relation itself
    is never join-shuffled.  ``boiler_set`` is the template dictionary
    :func:`boilerplate_set` over ``shingles`` (a deterministic function
    of the corpus — plans/curation_queries serves it from the on-disk
    index store, paying the DF aggregation once per corpus version);
    should it outgrow the broadcast threshold, drop the explicit
    broadcast and let AQE pick the join side.
    """
    return (
        shingles.join(F.broadcast(boiler_set), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("is_boiler").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(
                F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double"), 4
            ).alias("boiler_ratio"),
        )
    )


def benchmark_contamination(docs: DataFrame, bench_pct: float = 5.0) -> DataFrame:
    """Flag training docs sharing a wide DECONTAM_K-gram with the held-out
    benchmark subset (the decontamination pass run before training).

    The benchmark here is the deterministic ``bench_pct``% hash-sample
    of the corpus (standing in for an external eval set).  Returns
    (doc_id, n_overlap) for contaminated non-benchmark docs.

    Plan: the benchmark k-gram set is **broadcast** — benchmarks are
    fixed-size while the corpus grows, so the corpus side is scanned
    map-side only and NEVER shuffled: the exploded (doc, k-gram)
    relation is deliberately not deduped globally (that would be a
    corpus-sized shuffle); instead the overlap agg counts DISTINCT
    k-grams, and its dedup shuffle holds only the broadcast-join
    survivors (contaminated rows — orders of magnitude smaller).
    """
    is_bench = _hash_bucket(F.col("doc_id"), "bench") < F.lit(pct_threshold(bench_pct))
    bench_sh = (
        docs.filter(is_bench)  # filter BEFORE the explode: the bench
        .select(tokens_expr().alias("toks"))  # subtree only ever
        .select(F.explode(shingles_from_tokens(k=DECONTAM_K)).alias("s"))  # expands
        .distinct()  # the benchmark slice
    )
    probe = docs.filter(~is_bench).select(
        F.col("doc_id"), tokens_expr().alias("toks")
    ).select("doc_id", F.explode(shingles_from_tokens(k=DECONTAM_K)).alias("s"))
    return (
        probe.join(F.broadcast(bench_sh), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("s")).alias("n_overlap"))
    )


#: overlap ratio at which :func:`contamination_report` flags a document.
CONTAM_MIN_RATIO = 0.05


def contamination_report(docs: DataFrame, bench_pct: float = 5.0) -> DataFrame:
    """Per-document contamination REPORT over every training doc — the
    audit companion of :func:`benchmark_contamination` (which emits
    only the contaminated survivors): total distinct k-grams, benchmark
    overlap count, overlap ratio, and the >= CONTAM_MIN_RATIO verdict —
    the GPT-3-style n-gram-overlap audit table a training run logs
    before dropping documents.

    Plan shape: per-doc k-gram dedup happens INSIDE the row
    (array_distinct before the explode — a narrow map), the benchmark
    k-gram set is broadcast into a left join, and the only shuffle of
    corpus-scale data is the final doc-keyed agg.  Nothing here is
    quadratic in the corpus.
    """
    is_bench = _hash_bucket(F.col("doc_id"), "bench") < F.lit(pct_threshold(bench_pct))
    bench_sh = (
        docs.filter(is_bench)
        .select(tokens_expr().alias("toks"))
        .select(F.explode(shingles_from_tokens(k=DECONTAM_K)).alias("s"))
        .distinct()
        .select("s", F.lit(True).alias("hit"))
    )
    probe = docs.filter(~is_bench).select(
        F.col("doc_id"), tokens_expr().alias("toks")
    ).select(
        "doc_id", F.explode(F.array_distinct(shingles_from_tokens(k=DECONTAM_K))).alias("s")
    )
    return (
        probe.join(F.broadcast(bench_sh), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double"),
                4,
            ).alias("contamination"),
            (
                F.col("n_overlap").cast("double")
                / F.col("n_shingles").cast("double")
                >= F.lit(CONTAM_MIN_RATIO)
            ).alias("is_contaminated"),
        )
    )


def domain_mix(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Re-weight a corpus to per-domain target rates — the data-mixing
    stage that turns raw domain proportions into a training mixture.

    ``rates[source]`` is the expected number of copies of each doc from
    that source: rates < 1 downsample (deterministic hash membership,
    same md5 bucket as :func:`hash_sample`); rates >= 1 emit
    ``floor(rate)`` guaranteed copies plus one more for the
    content-addressed ``frac(rate)`` slice.  A rate of 0 drops the
    domain.  Output repeats each kept doc once per copy with an
    ``epoch`` index (0-based) so downstream shuffles can spread copies.

    Determinism: membership and copy counts are functions of
    ("mix", doc_id) only — append-stable and repartition-stable, and the
    DuckDB oracle reproduces them bit-for-bit.  Scale: a narrow map +
    per-row explode of at most ``ceil(rate)`` elements; no shuffle, no
    driver state.  The rates dict compiles to a CASE ladder (domains
    are a config-sized set, not data)."""
    base_case = None
    frac_case = None
    for src, rate in rates.items():
        base, frac = int(rate), round((rate - int(rate)) * 100, 6)
        cond = F.col("source") == src
        base_case = (base_case.when(cond, base) if base_case is not None
                     else F.when(cond, base))
        frac_case = (frac_case.when(cond, F.lit(pct_threshold(frac))) if frac_case is not None
                     else F.when(cond, F.lit(pct_threshold(frac))))
    d_base, d_frac = int(default_rate), round((default_rate - int(default_rate)) * 100, 6)
    n_base = base_case.otherwise(d_base) if base_case is not None else F.lit(d_base)
    frac_thresh = (frac_case.otherwise(F.lit(pct_threshold(d_frac)))
                   if frac_case is not None else F.lit(pct_threshold(d_frac)))
    extra = (_hash_bucket(F.col("doc_id"), "mix") < frac_thresh).cast("int")
    return (
        df.withColumn("n_copies", n_base + extra)
        .filter(F.col("n_copies") > 0)
        .withColumn(
            "epoch",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"), (F.col("n_copies") - 1).cast("bigint")
                )
            ),
        )
        .drop("n_copies")
    )


#: prefix-sum block width for pack_sequences: docs per offset group.
#: The per-group offset relation has N/PACK_BLOCK rows — at 100 TB
#: (~1e11 docs) that is ~2.4e7 rows for the single-partition running
#: sum, still a trivial window; raise the block (or add one more
#: prefix level) long before that becomes the bottleneck.
PACK_BLOCK = 4096


def pack_sequences(
    docs: DataFrame,
    ctx_len: int = 2048,
    block: int = PACK_BLOCK,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay all docs end-to-end in
    deterministic ``doc_id`` order and cut the token stream into fixed
    ``ctx_len`` context windows.  Returns one row per doc with its
    token count, the pack (chunk) its first token lands in, and the
    offset inside that pack — the map a tokenizer shard uses to build
    training sequences (docs crossing a boundary continue into the
    next pack, standard GPT-style packing).

    The naive plan is a single global ordered cumsum — one partition
    holding the whole corpus.  This implements the two-level
    distributed prefix sum instead:

    1. per-doc token counts (narrow map);
    2. group docs into ``doc_id // block`` ranges and aggregate per-group
       token sums — a corpus-wide shuffle of ONE row per group;
    3. running offsets over that tiny per-group relation (single
       partition, N/block rows — see :data:`PACK_BLOCK`);
    4. broadcast-join offsets back and window-cumsum WITHIN each group
       (partitioned by group — fully parallel).

    The only corpus-scale shuffles are the per-group agg and the
    within-group window; both are keyed by the block id, so partition
    counts stay balanced regardless of doc length skew."""
    counted = docs.select(
        F.col("doc_id"),
        F.expr(f"doc_id div {block}").alias("grp"),
        F.size(tokens_expr()).cast("bigint").alias("n_tokens"),
    )
    grp_offsets = (
        counted.groupBy("grp")
        .agg(F.sum("n_tokens").alias("grp_tokens"))
        .withColumn(
            "grp_offset",
            F.coalesce(
                F.sum("grp_tokens").over(
                    Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("grp", "grp_offset")
    )
    w_in = (
        Window.partitionBy("grp").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        counted.join(F.broadcast(grp_offsets), "grp")
        .withColumn(
            "cum_before",
            F.col("grp_offset") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"cum_before div {ctx_len}").alias("pack_id"),
            (F.col("cum_before") % ctx_len).alias("pack_offset"),
        )
    )


def canonical_docs(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Drop non-representative near-dup cluster members: keep every doc
    except those whose cluster label (the cluster's min doc_id) is a
    different doc.

    ``clusters`` is the (doc_id, cluster_id) output of
    :func:`..dedup.duplicate_clusters`.  The drop set is proportional
    to the duplicate count (small after upstream exact-dedup), so the
    anti-join broadcasts it; the corpus side stays map-side.
    """
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(F.broadcast(drop), "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Temperature resampling / stratified eval sampling
# ---------------------------------------------------------------------------

#: sqrt-weight quantization scale: weights are FLOOR(sqrt(n)*1e6) as
#: integers, so the normalizing sum is integer-exact in every engine
#: (a floating-point sum's result depends on addition order, which no
#: SQL engine guarantees; quantize-then-integer-sum removes the race).
TEMP_W_SCALE = 1_000_000


def temperature_thresholds(
    source_counts: dict[str, int], target_pct_num: int = 30
) -> dict[str, int]:
    """Per-source 16-bit hash-acceptance thresholds for temperature
    T=2 (alpha=0.5) domain resampling: sample ``target_pct_num``% of
    the corpus with per-source quotas proportional to sqrt(count) —
    the standard temperature flattening (heavy domains downweighted,
    rare domains upweighted) used by multilingual / multi-domain
    pre-training mixes.

    All arithmetic after the one correctly-rounded ``sqrt`` is integer
    (see TEMP_W_SCALE), so a SQL oracle that follows the same recipe
    reproduces every threshold bit-for-bit.  Thresholds cap at 0xffff:
    a source whose quota exceeds its size keeps ~all docs (65535/65536
    of them — deterministically, in every engine).
    """
    import math

    wq = {s: math.floor(math.sqrt(n) * TEMP_W_SCALE) for s, n in source_counts.items()}
    w_total = sum(wq.values())
    total = sum(source_counts.values())
    t_docs = total * target_pct_num // 100
    return {
        s: min((65536 * (t_docs * wq[s] // w_total)) // n, 0xFFFF)
        for s, n in source_counts.items()
    }


def temperature_sample(
    df: DataFrame,
    source_counts: dict[str, int],
    target_pct_num: int = 30,
) -> DataFrame:
    """Filter ``df`` to the temperature-resampled subset.

    ``source_counts`` come from a prior tiny per-source aggregate (the
    ANALYZE pattern — domains are a config-sized set, so the collected
    stats and the CASE ladder they compile into are O(domains), never
    O(rows)); membership itself is the usual content-addressed md5
    bucket: append-stable, repartition-stable, zero-shuffle.
    """
    thr = temperature_thresholds(source_counts, target_pct_num)
    ladder = None
    for s, t in thr.items():
        cond = F.col("source") == s
        lit = F.lit(format(t, "04x"))
        ladder = ladder.when(cond, lit) if ladder is not None else F.when(cond, lit)
    ladder = ladder.otherwise(F.lit("0000")) if ladder is not None else F.lit("0000")
    return df.filter(_hash_bucket(F.col("doc_id"), "temp") < ladder)


def stratified_take(
    df: DataFrame,
    strat_col: str,
    key: str,
    n: int,
    prefilter_pct: float | None = None,
) -> DataFrame:
    """EXACTLY ``n`` rows per stratum (not ~n%): rank rows inside each
    stratum by a content-addressed hash (ties broken by key — md5 makes
    them astronomically rare but the determinism contract requires the
    tiebreak) and keep rank <= n.  The eval-set shape: "5 held-out docs
    per source", stable under appends of new rows that hash higher.

    One shuffle on ``strat_col``.  At 100 TB with a skewed stratum, set
    ``prefilter_pct`` so the window never sorts a whole domain: because
    the prefilter membership test uses the SAME hash the rank
    orders by, the rows it drops are exactly the rows that could never
    rank <= n — the result is UNCHANGED (pinned in tests) as long as
    every stratum keeps >= n survivors (expected survivors =
    pct/100 x stratum size; size the pct from the smallest stratum).
    """
    h = F.md5(F.concat(F.lit("strat|"), F.col(key).cast("string")))
    if prefilter_pct is not None:
        df = df.filter(
            F.substring(h, 1, 4) < F.lit(pct_threshold(prefilter_pct))
        )
    w = Window.partitionBy(strat_col).orderBy(h, F.col(key))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
    )


#: context-window chunking defaults: 32-token windows advancing 24
#: tokens (8-token overlap), sized so the test corpus (~50 tokens/doc)
#: actually produces multi-chunk documents; production corpora pass
#: their tokenizer's window (e.g. 2048/1536).
CHUNK_WINDOW = 32
CHUNK_STRIDE = 24


def chunk_documents(
    docs: DataFrame,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Overlapping fixed-token-window chunking — the context-window
    splitter every RAG indexer and long-document training pipeline
    runs between curation and tokenization (LangChain/LlamaIndex-style
    "chunk with overlap", expressed as pure Spark SQL).

    Chunk ``i`` covers tokens ``[1 + i*stride, 1 + i*stride + window)``
    (1-based); the number of chunks is ``1 + ceil(max(n - window, 0) /
    stride)``, so every token is covered, the final chunk may be
    short, and a doc shorter than one window yields exactly one chunk.

    Scale shape: a narrow per-row map — tokenize, one ``sequence`` +
    ``explode`` with ~n/stride fan-out, ``slice`` + ``array_join`` per
    chunk.  No shuffle at all; the output inherits the input
    partitioning, and the fan-out is bounded by document length over
    stride (the same fan-out the downstream tokenizer pays anyway).
    """
    if stride > window:
        raise ValueError(
            f"chunk_documents: stride={stride} > window={window} would "
            "silently drop the tokens between consecutive chunks — the "
            "'every token is covered' contract needs stride <= window"
        )
    toks = docs.select("doc_id", tokens_expr().alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n")
    )
    n_chunks = F.expr(f"1 + CAST(ceil(greatest(n - {window}, 0) / {stride}) AS INT)")
    return (
        toks.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.slice(
                "toks", F.col("chunk_idx") * stride + 1, window
            ).alias("ctoks"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("ctoks").alias("n_chunk_tokens"),
            F.array_join("ctoks", " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle -> exact fixed-size batch assignment
# ---------------------------------------------------------------------------

#: leading hex chars of the shuffle key that form the ordering bucket:
#: 3 chars = 4096 buckets, each holding ~N/4096 rows — the unit the
#: global row-number is composed over.
EPOCH_BUCKET_CHARS = 3


def epoch_batches(docs: DataFrame, epoch: int, batch_size: int) -> DataFrame:
    """Deterministic epoch shuffle with EXACT fixed-size batch
    assignment: every row gets a global position in the md5-permuted
    order ``md5('epoch<e>|' || doc_id)`` and ``batch_id = position DIV
    batch_size`` — a different permutation each epoch, stable under
    re-runs, appends-then-reshuffles, and any physical partitioning
    (the training-loader contract ``df.sample``/``rand()`` cannot
    give).

    The global row number is computed WITHOUT a global sort pipeline:
    the first ``EPOCH_BUCKET_CHARS`` hex chars of the shuffle key form
    4096 ORDERING BUCKETS (a prefix of the sort key, so bucket order
    is key order), and the position composes as

        offset(bucket) + rank within bucket

    — one corpus shuffle keyed by the ~uniform bucket (4096 balanced
    window groups, never a single-partition window), plus a 4096-row
    count/cumsum relation broadcast back.  At 100 TB that is the same
    cost class as any hash aggregation over the corpus; contrast
    ``ROW_NUMBER() OVER (ORDER BY sk)`` whose naive plan funnels every
    row through one task, or RDD ``zipWithIndex`` whose index is only
    deterministic if the partitioning is.

    Returns one row per input row: every input column, plus (sk,
    batch_id).  The final (possibly short) batch is the highest id;
    all others hold exactly ``batch_size`` rows.  Input columns ride
    the bucket shuffle — project ``docs`` down to what the loader
    manifest needs BEFORE calling (carrying raw text through would
    double the corpus shuffle bytes for nothing).
    """
    sk = F.md5(F.concat(F.lit(f"epoch{epoch}|"), F.col("doc_id").cast("string")))
    d = docs.withColumn("sk", sk).withColumn(
        "bucket", F.substring("sk", 1, EPOCH_BUCKET_CHARS)
    )
    counts = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    # cumulative offsets over the bounded 4096-row bucket relation;
    # the unpartitioned window is safe ONLY because its input can
    # never exceed 16^EPOCH_BUCKET_CHARS rows.
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "bucket", (F.sum("n").over(woff) - F.col("n")).alias("off")
    )
    wrank = Window.partitionBy("bucket").orderBy("sk", "doc_id")
    return (
        d.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "pos", F.col("off") + F.row_number().over(wrank) - F.lit(1)
        )
        .select(
            *docs.columns,
            "sk",
            F.expr(f"CAST(pos DIV {batch_size} AS BIGINT)").alias("batch_id"),
        )
    )
