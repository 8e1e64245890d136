"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the reason these shapes were chosen for 100 TB):

* **exact**: hash-groupBy on a content hash — one shuffle keyed by the
  hash, perfectly parallel, no skew beyond true duplicate groups.
* **minhash LSH**: per-doc signatures are a single groupBy over the
  (doc, shingle) relation; candidate generation joins docs only within
  equal (band, signature) buckets, so the quadratic pair blowup is
  bounded per bucket instead of all-pairs.  b=4 bands x r=4 rows.
* **simhash**: per-(doc, bit) partial sums — linear, shuffle keyed by
  doc; near-dup lookup is then a bounded hamming-ball probe.
* **n-gram jaccard**: exact verification ONLY on LSH candidate pairs
  (never all pairs) — the canonical two-stage candidate/verify split.

Hash function: md5 (identical output on Spark and DuckDB), salted per
hash-slot.  Min-of-salted-md5 over a shingle set is a valid minhash
family for set similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import shingles_from_tokens, tokens_expr

#: MinHash layout: N_HASHES salted hashes grouped into BANDS bands of
#: ROWS_PER_BAND each (b=4, r=4 -> candidate if any band matches; the
#: match threshold is roughly (1/b)^(1/r) ~ 0.7 Jaccard).  r=2 was
#: measured far too permissive on shared-vocabulary corpora (~7% of
#: all pairs became candidates at sf0.1 — an all-pairs blowup in
#: disguise); r=4 keeps the candidate set near-linear.
N_HASHES = 16
BANDS = 4
ROWS_PER_BAND = N_HASHES // BANDS

#: SimHash width in bits (nibbles of the word-level md5).  16 bits
#: saturates on a few hundred docs (measured: 37k hamming<=3 pairs on a
#: 500-doc corpus = birthday collisions, not near-dups); 48 keeps the
#: signature space comfortably larger than any realistic corpus while
#: staying clear of the int64 sign bit on both engines.
SIMHASH_BITS = 48

#: SimHash near-dup radius: pairs within this hamming distance count as
#: near duplicates (4 blocks of 12 bits, so a pair within 3 bits must
#: agree on one block — the pigeonhole banding below relies on it).
SIMHASH_MAX_HAMMING = 3

#: verified n-gram Jaccard at or above which a candidate pair is kept.
JACCARD_THRESHOLD = 0.2

#: max directional containment at or above which a pair is kept.
CONTAINMENT_THRESHOLD = 0.5


def doc_shingles(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — the set representation used
    by minhash and jaccard.

    Repartitioned by doc_id before the explode: document corpora often
    arrive as few large files, and the ~300x shingle fan-out must run
    after the data is spread across cores/executors, not before.
    """
    return (
        docs.repartition("doc_id")
        .select("doc_id", tokens_expr().alias("toks"))
        .select("doc_id", F.explode(shingles_from_tokens()).alias("s"))
        .distinct()
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by normalized-content hash: one
    representative (min doc_id) + copy count per distinct content."""
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return (
        docs.select(F.md5(norm).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """Per-doc minhash signature: min over the :func:`doc_shingles` set
    of md5 salted per hash slot (columns h0..h{N_HASHES-1}).

    The N_HASHES md5s are computed once per *distinct shingle string*
    (the vocabulary) and joined back to the (doc, shingle) relation —
    shingle vocabularies are heavily shared across docs, so this cuts
    the hash work by the sharing factor (measured ~10x on the driver
    corpus).  Same aggregation result, since min(md5) only depends on
    the shingle values.
    """
    vocab = shingles.select("s").distinct().select(
        "s",
        *[
            F.md5(F.concat(F.lit(f"{h}|"), F.col("s"))).alias(f"v{h}")
            for h in range(N_HASHES)
        ],
    )
    return (
        shingles.join(vocab, "s")
        .groupBy("doc_id")
        .agg(*[F.min(f"v{h}").alias(f"h{h}") for h in range(N_HASHES)])
    )


def minhash_bands(shingles: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_sig) — the LSH bucket keys."""
    sig = minhash_signatures(shingles)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat(
                *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            ).alias("band_sig"),
        )
        for b in range(BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bd")
    ).select("doc_id", "bd.band_id", "bd.band_sig")


def minhash_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket of
    :func:`minhash_bands`.

    The self-join is keyed on (band_id, band_sig) — only same-bucket
    docs ever meet, which is what bounds the blowup at scale.

    Pass a cached ``bands`` relation to avoid evaluating the signature
    pipeline twice — Spark executes both sides of a self-join
    independently unless the input is persisted.
    """
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def candidate_restricted_shingles(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """The shingle relation semi-restricted to candidate docs — the
    shared input of :func:`_candidate_intersections`, stated separately
    so callers can persist/memoize ONE instance per (session, corpus):
    it is referenced three times downstream (sizes + both intersection
    sides) and Spark re-executes unpersisted subtrees per reference —
    the r12 dd_ngram_jaccard profile measured the semi-join at 0.41 s
    of a 1.57 s query, paid 3x.  State is bounded by the candidate set
    (the function's own scale contract), so a cache is candidate-sized
    at any corpus size."""
    return sh.join(
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct(),
        "doc_id",
        "leftsemi",
    )


def _candidate_intersections(
    cand: DataFrame, sh_cand: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate/verify scaffolding: count per-pair shared
    shingles over the shingle relation semi-restricted to candidate
    docs (``sh_cand``, :func:`candidate_restricted_shingles`).

    Returns ``(inter, sizes)`` — per-pair ``n_inter`` counts and
    per-doc set sizes, both computed over the semi-filtered relation so
    the wide shuffle scales with the candidate set, not the corpus (the
    candidate set is orders of magnitude smaller by construction of the
    LSH band / probe filters).  Callers should pass a persisted ``cand``
    relation — it is referenced three times here (the sa/sb semi-filter
    + the join spine) and Spark re-executes unpersisted subtrees per
    reference — and a cached ``sh_cand``
    (:func:`candidate_restricted_shingles`) for the same reason.  The
    r12 form persisted sh_cand HERE, which leaked: every build pinned a
    new relation that no reset path could release (r12 advice) — the
    cache lifetime decision now belongs to the caller (plans/extensions
    memoizes it per session+corpus, released by ``cache.invalidate``).
    """
    # only candidate docs reach the score join, so set sizes come from
    # the semi-filtered relation, not a full-corpus aggregate
    sizes = sh_cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh_cand.select(F.col("doc_id").alias("doc_a"), "s")
    sb = sh_cand.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter, sizes


def _pair_set_sizes(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    """Attach both endpoints' set sizes (``n_a``, ``n_b``) to each
    (doc_a, doc_b, n_inter) pair.  ``sizes`` is per-doc — broadcastable
    at test SF but not at 100 TB, so the join strategy is left to AQE
    (it picks broadcast when small)."""
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return inter.join(na, "doc_a").join(nb, "doc_b")


def _containment_scores(with_sizes: DataFrame, threshold: float) -> DataFrame:
    """Directional containment scores over a sized pair relation
    (output contract shared by :func:`containment_pairs` and
    :func:`containment_pairs_exact`): c_a_in_b = |A∩B|/|A|, c_b_in_a =
    |A∩B|/|B|, plus their max, filtered at ``threshold`` on the max."""
    c_a = F.round(F.col("n_inter").cast("double") / F.col("n_a").cast("double"), 4)
    c_b = F.round(F.col("n_inter").cast("double") / F.col("n_b").cast("double"), 4)
    return (
        with_sizes.select(
            "doc_a",
            "doc_b",
            c_a.alias("c_a_in_b"),
            c_b.alias("c_b_in_a"),
            F.greatest(c_a, c_b).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def ngram_jaccard_pairs(
    candidates: DataFrame, sh_cand: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Exact shingle-set Jaccard, verified only on the LSH
    ``candidates`` (:func:`minhash_candidate_pairs` — candidate/verify
    split, never all-pairs).

    ``sh_cand`` is :func:`candidate_restricted_shingles` over the same
    candidates; it is read three times (two intersection sides +
    sizes), so callers should cache it (plans/extensions does, keyed
    per session+sf)."""
    inter, sizes = _candidate_intersections(candidates, sh_cand)
    jac = F.round(
        F.col("n_inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        4,
    )
    return (
        _pair_set_sizes(inter, sizes)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _simhash_nibbles(sig: DataFrame) -> DataFrame:
    """Explode a (doc_id, simhash) relation into its four 12-bit block
    keys — the pigeonhole banding both the self-join (near-dup pairs)
    and the cross-corpus probe bucket on."""
    return sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3),"
                " b -> struct(b AS band, shiftright(simhash, b * 12) & 4095 AS nib))"
            )
        ).alias("bn"),
    ).select("doc_id", "simhash", "bn.band", "bn.nib")


def simhash_cross_matches(nibbles: DataFrame, refs: DataFrame) -> DataFrame:
    """Cross-corpus SimHash contamination: for each NON-reference doc,
    the number of reference docs within SIMHASH_MAX_HAMMING of its 48-bit
    signature, plus the closest distance — near-duplicate benchmark
    decontamination (exact-overlap decontam misses paraphrased leaks;
    a hamming-3 SimHash collision catches lightly-edited copies).

    ``refs`` is the reference membership relation (doc_id) — an eval
    benchmark is fixed-size while the corpus grows, so it is broadcast
    to both the membership anti-join and the block-band probe: the
    corpus signature relation is scanned map-side and never shuffled
    by a join (the only shuffles are the banding distinct and the
    final per-doc agg).  Same pigeonhole bound as the self-join: a
    within-3 pair must agree on one of the four 12-bit blocks.

    ``nibbles`` is the banded signature relation
    (:func:`_simhash_nibbles`; plans/extensions memoizes one per
    session) so the probe and membership branches scan it instead of
    re-deriving the explode per branch.
    """
    ref_nib = nibbles.join(F.broadcast(refs), "doc_id").select(
        F.col("doc_id").alias("ref_id"),
        F.col("simhash").alias("ref_hash"),
        "band",
        "nib",
    )
    corpus_nib = nibbles.join(F.broadcast(refs), "doc_id", "left_anti")
    cand = (
        corpus_nib.join(F.broadcast(ref_nib), ["band", "nib"])
        .select(
            "doc_id",
            "ref_id",
            F.expr("bit_count(simhash ^ ref_hash)").cast("int").alias("hamming"),
        )
        # filter before the distinct (r8): the radius is a pure
        # function of the pair, so the dedup exchange carries only
        # within-radius survivors.
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )
    return cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ref_dups"),
        F.min("hamming").alias("min_hamming"),
    )


def simhash_near_dup_pairs(nibbles: DataFrame) -> DataFrame:
    """SimHash near-dup pairs: hamming distance <= SIMHASH_MAX_HAMMING
    on the 48-bit signature.

    Candidate generation uses block banding (pigeonhole: two 48-bit
    hashes within distance 3 must agree on at least one of the four
    12-bit blocks), so the self-join meets only within equal
    (band, block) buckets — the same blowup bound as minhash LSH.
    The exact hamming filter (bit_count(a XOR b)) then verifies.

    ``nibbles`` is the pre-banded signature relation
    (:func:`_simhash_nibbles` over :func:`simhash`; plans/extensions
    memoizes it) so neither self-join side re-derives the signatures
    or re-explodes them.
    """
    a, b = nibbles.alias("a"), nibbles.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.nib") == F.col("b.nib"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("int").alias("hamming"),
        )
        # filter BEFORE the distinct: hamming is a pure function of
        # the pair, so the result is identical, but the dedup exchange
        # now carries only the within-radius survivors instead of
        # every banded collision (r8; the map-side partial aggregate
        # shrinks further for the same reason).
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )
    return cand


#: pointer-jumping rounds :func:`duplicate_clusters` runs before it
#: warns: each round halves component diameter, so 10 covers ~2^10.
CLUSTER_MAX_ITER = 10


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over the near-dup pair graph — dedup
    *clustering*: every doc in a transitively-connected group gets the
    group's minimum doc_id as cluster id.

    Iterative min-label propagation with pointer jumping (not
    SQL-expressible — this is the registry's rows-only entry).  Per
    round, each node takes (1) the min label over itself and its
    neighbors (self-loops fold the "keep own label" case into the same
    join, so a round is one join + one groupBy, not two joins), then
    (2) a pointer-jump hop — the label of its current label — which
    squares the propagation distance per round: convergence is
    O(log diameter) rounds instead of O(diameter), the difference
    between ~6 and ~1000 shuffles on a 100 TB near-dup chain.  The
    invariant label(v) <= v (labels start at own id and only shrink)
    makes the jump join an inner join on existing nodes.

    All data stays distributed — the only driver-side value per round
    is the label-sum convergence scalar (labels shrink monotonically,
    so an unchanged sum means a fixpoint; summed in DECIMAL(38,0) so
    id magnitude can't overflow); ``localCheckpoint`` truncates the
    growing lineage so plan size stays constant across rounds.

    Input: (doc_a, doc_b) pairs.  Output: (doc_id, cluster_id) for
    every doc appearing in a pair.
    """
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = (
        sym.union(sym.select(F.col("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = object()  # sentinel: never equal on round 1
    converged = False
    for _ in range(CLUSTER_MAX_ITER):
        hop = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .withColumnRenamed("src", "doc_id")
        )
        jump = hop.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_label")
        )
        labels = (
            hop.join(jump, hop["cluster_id"] == jump["p_id"])
            .select(
                "doc_id", F.least("cluster_id", "p_label").alias("cluster_id")
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # A graph deeper than CLUSTER_MAX_ITER rounds cover would
        # silently return split clusters without this signal.
        import warnings

        warnings.warn(
            f"duplicate_clusters: no fixpoint after {CLUSTER_MAX_ITER} rounds — "
            "labels may still be split; raise CLUSTER_MAX_ITER",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def simhash(docs: DataFrame) -> DataFrame:
    """Per-doc SimHash over the distinct word set.

    Each word hashes to SIMHASH_BITS bits (md5 nibbles); per bit,
    words vote +1/-1 and the sign of the tally sets the output bit.
    Written as explode(words) x explode(bits) -> partial-sum groupBy,
    which distributes with no UDFs; at 100 TB the (doc, bit) key space
    is 16x the doc count — still a linear shuffle.
    """
    w = (
        docs.repartition("doc_id")
        .select("doc_id", F.explode(tokens_expr()).alias("w"))
        .distinct()
    )
    bits = w.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("j"), "w"
    )
    bit = F.expr(
        "shiftright(instr('0123456789abcdef', substring(md5(w), (j div 4) + 1, 1)) - 1,"
        " j % 4) & 1"
    )
    score = bits.groupBy("doc_id", "j").agg(
        F.sum(F.when(bit == 1, 1).otherwise(-1)).alias("score")
    )
    return score.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("score") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("simhash")
    )


def incremental_candidate_pairs(bands: DataFrame, new_min_id: int) -> DataFrame:
    """Near-dup candidates for a NEW ingest batch (doc_id >=
    ``new_min_id``) against everything already in the corpus — the
    continuous-ingestion form of :func:`minhash_candidate_pairs`.

    The full self-join re-pairs the whole corpus every run; at 100 TB
    the store of band signatures is instead PERSISTED (it is exactly
    the ``bands`` relation — ~BANDS rows per doc), only the new batch
    is shingled+hashed, and the join probes new-batch bands against
    the store.  The probe side is batch-sized, so per-ingest cost is
    O(|batch| + collisions), not O(|corpus|).

    Output = every candidate pair whose newer member is in the batch
    ((old, new) cross pairs plus in-batch pairs), which is precisely
    the increment of the full pair set — verified by the equivalence
    test and the driver oracle."""
    new_bands = bands.filter(F.col("doc_id") >= new_min_id)
    return (
        bands.alias("a")
        .join(
            new_bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dup_ngram_stats(shingles: DataFrame) -> DataFrame:
    """Per-document duplicate-n-gram statistics — the corpus-frequency
    substring-dedup signal of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (ACL 2022), at word-shingle
    granularity: for each document, the fraction of its distinct
    word k-grams that also occur in at least one OTHER document.

    Unlike the pairwise MinHash/SimHash paths this is a *span-level*
    signal: a doc can be globally unique yet consist mostly of n-grams
    copied from elsewhere (boilerplate, quotes, templated text), and
    ``dup_frac`` surfaces exactly that.  Pipelines threshold it (e.g.
    drop or trim docs with dup_frac > 0.8) between exact dedup and the
    near-dup pair passes.

    Plan — linear, no pair joins anywhere: distinct (doc, shingle)
    [one shuffle keyed by doc] -> shingle document-frequency hash-agg
    [one shuffle keyed by shingle] -> join df back onto the shingle
    relation keyed by shingle -> per-doc hash-agg.  The join's right
    side is one row per distinct shingle; universal shingles skew the
    join partition the same way universal terms do in tfidf_top_terms
    — AQE's skew split handles it, the df side being freely
    replicable.  The df-count and join run on ``xxhash64(s)`` instead
    of the string shingle (r8): the string is never needed downstream
    — only the doc_id and the count survive — so hashing cuts the two
    shuffles' bytes ~5x at 100 TB.  A 64-bit collision would merge two
    shingles' counts; at any plausible distinct-shingle count the
    probability is ~n^2/2^65 (~1e-8 at a million shingles), and the
    exact-string DuckDB oracle would catch it loudly.
    """
    hashed = shingles.select("doc_id", F.xxhash64("s").alias("h"))
    df_counts = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs_with"))
    return (
        hashed.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0)).alias(
                "n_dup_shingles"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            F.round(
                F.col("n_dup_shingles").cast("double")
                / F.col("n_shingles").cast("double"),
                4,
            ).alias("dup_frac"),
        )
    )


def fuzzy_name_pairs(
    df: DataFrame, name_col: str, max_dist: int = 2, multi_pass: bool = False
) -> DataFrame:
    """Blocked edit-distance record linkage over the DISTINCT name
    dictionary: (name_a, name_b, edit_dist) for every same-block pair
    within ``max_dist`` Levenshtein edits — the classic
    entity-resolution pass for catalog/vendor/name-variant merging.

    Scale design, in order:

    1. **Dictionary level, not row level.**  The distinct-name relation
       is orders of magnitude smaller than the fact at 100 TB (64 vs
       2000 here at sf0.01), and fuzzy semantics only concern the
       strings; matched pairs map back to rows by a plain hash join on
       the name.  Running pairwise logic on row instances would square
       the duplicate-name multiplicity for nothing.
    2. **Blocking** on the name's head (last whitespace) token — the
       standard surname-style blocking key: pairs meet only inside a
       block (one shuffle keyed by block).  Like the LSH/IVF families,
       blocking trades recall for the all-pairs product: a pair whose
       edit sits in the head token is missed by design;
       ``multi_pass=True`` adds a second pass blocked on the FIRST
       token and unions the (deduplicated) pair sets — the exact
       analog of multi-table LSH, recovering every pair whose edits
       are confined to one of the two blocking tokens.
    3. **Sound length-band prefilter** inside the block:
       ``|len(a)-len(b)| <= max_dist`` is implied by the edit bound, so
       it discards pairs before any DP runs, losing nothing.
    4. The surviving pairs run Spark's THRESHOLDED
       ``levenshtein(a, b, max_dist)`` — the DP short-circuits to -1
       once the bound is exceeded (O(max_dist * len) instead of
       O(len^2) per pair), which is the dominant per-pair cost.
    """
    names = df.select(F.col(name_col).alias("name")).distinct()
    lev = F.expr(f"levenshtein(a.name, b.name, {max_dist})")

    def one_pass(block_index: int) -> DataFrame:
        blocked = names.select(
            "name",
            F.element_at(F.split(F.col("name"), " "), block_index).alias("blk"),
            F.length("name").alias("len"),
        )
        return (
            blocked.alias("a")
            .join(blocked.alias("b"), "blk")
            .filter(
                (F.col("a.name") < F.col("b.name"))
                & (F.abs(F.col("a.len") - F.col("b.len")) <= max_dist)
            )
            .select(
                F.col("a.name").alias("name_a"),
                F.col("b.name").alias("name_b"),
                lev.cast("int").alias("edit_dist"),
            )
            # thresholded DP returns -1 past the bound
            .filter(F.col("edit_dist") >= 0)
        )

    pairs = one_pass(-1)
    if multi_pass:
        # a pair meeting in both blocks collides twice — distinct()
        # dedups exactly like the multi-table LSH candidate union
        pairs = pairs.union(one_pass(1)).distinct()
    return pairs


#: bottom-k sketch width for the containment probe: each doc probes its
#: PROBE_K smallest-by-md5 shingles against the corpus inverted index.
#: If doc A has containment c in doc B, each of A's bottom-k shingles
#: lies in B with probability ~c independently, so pair recall is
#: ~1 - (1-c)^k — 0.996 at c=0.5, k=8 — INDEPENDENT of the size ratio
#: |B|/|A| that defeats Jaccard-tuned banding.
PROBE_K = 8

#: default document-frequency cap for the probe's inverted-file side,
#: derived from corpus size: cap = max(MIN, ceil(FRAC * n_docs)).
#: Bounds candidate generation at cap * |probes| memberships (linear in
#: corpus size) no matter how hot an adversarial shingle runs — the
#: prefix-filtering analog the r5 review asked for.  Pairs whose EVERY
#: shared shingle is hotter than the cap are the documented recall
#: cost; the exact path (containment_pairs_exact) has no such gap.
PROBE_DF_CAP_MIN = 4
PROBE_DF_CAP_FRAC = 0.001


def probe_df_cap(n_docs: int) -> int:
    """Corpus-stat-derived default for ``max_df`` (see above)."""
    import math

    return max(PROBE_DF_CAP_MIN, math.ceil(PROBE_DF_CAP_FRAC * n_docs))


def containment_probe_candidates(
    shingles: DataFrame, max_df: int | None = None
) -> DataFrame:
    """Containment-tuned candidate pairs: each document probes its PROBE_K
    smallest-by-md5 shingles (a bottom-k sketch of the set) against the
    full (shingle -> doc) inverted relation.  This is the candidate
    pass Jaccard-tuned MinHash banding cannot provide: a tiny snippet
    inside a huge doc has near-zero Jaccard (bands almost never
    collide) but its OWN shingles are by definition present in the
    host, so probing the snippet's sketch finds the host directly —
    recall depends only on the containment score, not the size ratio.

    Scale shape: the probe side is N*PROBE_K rows (linear); the join is
    keyed by shingle, so fan-out is bounded by the probed shingles'
    document frequencies.  ``max_df`` is the prefix-filtering analog
    for adversarial corpora: host postings for shingles with df >
    max_df are dropped (an ultra-common shingle is uninformative for
    candidacy — a true containment pair almost surely also collides on
    a rarer probe shingle).  Default None: the driver corpus' DF
    distribution needs no cap, and the oracle mirrors exactly.
    """
    from pyspark.sql import Window

    ranked = (
        shingles.select(
            "doc_id",
            "s",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy(F.md5("s")))
            .alias("rn"),
        )
        .filter(F.col("rn") <= PROBE_K)
        .select("doc_id", "s")
    )
    host = shingles
    if max_df is not None:
        df_counts = shingles.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        host = host.join(
            df_counts.filter(F.col("df") <= max_df).select("s"), "s", "leftsemi"
        )
    return (
        ranked.alias("p")
        .join(host.alias("h"), "s")
        .filter(F.col("p.doc_id") != F.col("h.doc_id"))
        .select(
            F.least("p.doc_id", "h.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "h.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def containment_pairs(
    shingles: DataFrame, candidates: DataFrame, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """Asymmetric shingle containment over the LSH candidate pairs —
    the snippet/quote detector symmetric Jaccard misses: a short doc
    fully embedded in a long one has tiny Jaccard (union is the long
    doc) but containment ~1 on the short side.  Broder's second
    resemblance measure, the signal quote-dedup and
    extraction-pipeline audits need.

    Emits both directional scores (c_a_in_b = |A∩B|/|A|, c_b_in_a =
    |A∩B|/|B|) plus their max, filtered at ``threshold`` on the max.
    Same candidate/verify split and candidate-semi-restricted shuffle
    discipline as :func:`ngram_jaccard_pairs` — never all-pairs, and
    the wide intersection join scales with the candidate set.

    Candidate generation: callers should pass as ``candidates`` the
    UNION of the Jaccard-banded LSH candidates and
    :func:`containment_probe_candidates` (plans/extensions does) —
    banding alone under-proposes extreme-asymmetry pairs (a tiny
    snippet inside a huge doc has low Jaccard, so its bands rarely
    collide), which are exactly the pairs a snippet detector exists
    for; the bottom-k probe recovers them with recall ~1-(1-c)^PROBE_K
    regardless of size ratio (floor-asserted against exact all-pairs
    ground truth in test_properties).  The scores are exact for every
    proposed pair either way.
    """
    inter, sizes = _candidate_intersections(
        candidates, candidate_restricted_shingles(shingles, candidates)
    )
    return _containment_scores(_pair_set_sizes(inter, sizes), threshold)


#: bound for the exact inverted-file containment join
#: (:func:`check_hot_shingles`): when the join-row count
#: sum(df*(df-1)/2) exceeds HOT_JOIN_FACTOR x the shingle-row count,
#: the corpus has unremoved hot shingles and the exact self-join is
#: super-linear — callers should take the df-capped two-stage path
#: instead.  Driver corpora measure 0.5-4.9x (sf0.001-sf0.1); a single
#: df-millions boilerplate shingle pushes the ratio into the thousands,
#: so 32 separates the regimes with wide margin.
HOT_JOIN_FACTOR = 32


class HotShingleCorpusError(ValueError):
    """Raised by :func:`check_hot_shingles` when the corpus'
    inverted-join blowup exceeds HOT_JOIN_FACTOR — the signal to route
    to the df-capped path (bounded candidates, exact scores)."""


def check_hot_shingles(n_rows: int, join_rows: int) -> None:
    """The hot-shingle guard of the exact containment join: raise
    :class:`HotShingleCorpusError` when ``join_rows`` (from
    :func:`containment_join_stats`) exceeds HOT_JOIN_FACTOR x the
    ``n_rows`` shingle rows, so the exact path never silently goes
    quadratic on an un-curated corpus."""
    if join_rows > HOT_JOIN_FACTOR * n_rows:
        raise HotShingleCorpusError(
            f"exact inverted containment join would expand to {join_rows} rows "
            f"(> {HOT_JOIN_FACTOR}x the {n_rows}-row shingle relation): this "
            "corpus has unremoved ultra-hot shingles — use "
            "containment_probe_candidates with a df cap + containment_pairs, "
            "or the registered dd_containment_scale, whose oracle models the cap"
        )


def containment_join_stats(shingles: DataFrame) -> tuple[int, int]:
    """(shingle_rows, join_rows) for the exact inverted self-join:
    join_rows = sum over shingles of df*(df-1)/2 — the EXACT row count
    of the ``a.join(b, "s").filter(doc_a < doc_b)`` stage, computable
    from a df histogram (two hash-aggs over the shingle relation, no
    join).  This is the stats pass a production run does before
    choosing the exact vs capped containment path."""
    row = (
        shingles.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.sum("df").alias("n"),
            F.sum(F.expr("df * (df - 1) div 2")).alias("jr"),
        )
        .collect()[0]
    )
    return int(row["n"] or 0), int(row["jr"] or 0)


def containment_pairs_exact(shingles: DataFrame) -> DataFrame:
    """Exact all-pairs shingle containment via the inverted-file
    self-join — no candidate stage, recall 1.0 by construction.

    Same output contract as :func:`containment_pairs` (doc_a < doc_b,
    both directional scores, max filtered at CONTAINMENT_THRESHOLD).

    Scale shape: the self-join on the shingle key expands to
    sum(df(s)^2) rows — the classic inverted-index join bound.  That
    is LINEAR in corpus size whenever per-shingle document frequency
    is bounded (true for natural-text shingles after boilerplate /
    stop-shingle removal: almost all shingles have df 1-2), and it is
    strictly cheaper than scoring a loose candidate set: scoring P
    candidate pairs re-expands each pair's full shingle lists
    (P x |doc| rows), while the inverted join touches each co-occurring
    (doc, doc, shingle) triple exactly once.  Measured at sf0.1: 2.3M
    join rows vs 12.6M for the 252k-pair probe candidate set, 1.1 s vs
    2.9 s warm, and the candidate path missed a containment-1.0 pair
    whose shared shingles were all common (df >= 7) while this form
    cannot miss anything.

    When a corpus has unremoved ultra-hot shingles (df in the
    millions), sum(df^2) explodes and the two-stage path is the right
    trade: :func:`containment_probe_candidates` with a df cap bounds
    candidate generation at cap x |shingles| rows (linear), at the
    documented recall cost on pairs whose every shared shingle is
    hotter than the cap.  Both paths are kept and tested; plans
    register the exact form (dd_containment) and the capped probe form
    (dd_containment_scale) side by side.

    This function does not check the blowup itself: run
    :func:`check_hot_shingles` on :func:`containment_join_stats` first.
    The registered dd_containment does, with memoized stats, and
    REFUSES a hot corpus (the error names dd_containment_scale) rather
    than serving the lower-recall capped path under its exact oracle.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.select(F.col("doc_id").alias("doc_a"), "s")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _containment_scores(_pair_set_sizes(inter, sizes), CONTAINMENT_THRESHOLD)


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup — storage-level redundancy
# ---------------------------------------------------------------------------

#: expected CDC chunk length in tokens: a token opens a new chunk when
#: its md5 lands in residue 0 mod CDC_MOD, so boundaries are decided
#: by LOCAL content — an insertion re-chunks only its neighborhood,
#: where fixed-size segmentation (curation.line_dedup's unit) shifts
#: every later segment.  This is the backup/dataset-versioning dedup
#: unit (FastCDC-family systems), simplified to a single-token gear.
CDC_MOD = 16


def cdc_chunk_stats(docs: DataFrame) -> DataFrame:
    """Per-source storage-dedup report over content-defined chunks:
    (source, n_chunks, n_distinct_chunks, dedup_ratio_q, n_dup_tokens)
    with dedup_ratio_q = distinct/total in 1e4 fixed point and
    n_dup_tokens the tokens sitting in REDUNDANT chunk instances —
    what cross-document storage dedup would reclaim.

    Plan: :func:`cdc_chunks` cuts every document inside its own row
    (a narrow map, no exchange), so the first shuffle is the
    (source, chunk_hash) aggregate over the chunk relation — one md5 +
    token count per chunk; text itself never shuffles.  At 100 TB the
    chunk relation is ~1/CDC_MOD of the token count — the same
    reduction every downstream stage inherits.
    """
    per = cdc_chunks(docs).groupBy("source", "chunk_hash").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("n_tok").alias("n_tok")
    )
    return per.groupBy("source").agg(
        F.sum("cnt").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.expr("(count(1) * 10000) DIV sum(cnt)").alias("dedup_ratio_q"),
        F.sum((F.col("cnt") - 1) * F.col("n_tok")).alias("n_dup_tokens"),
    )


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """The per-chunk relation of :func:`cdc_chunk_stats`:
    (doc_id, source, chunk_idx, n_tok, chunk_hash) — exposed because
    the chunk table IS the content-addressed store's ingest unit:
    version-over-version ingest (cdc_reuse_stats) stores only chunk
    hashes it has not seen.

    Chunking is local to a document, so it runs inside the document's
    row: the token array, one boundary flag per token, the chunk start
    and end offsets, then one ``slice`` + md5 per chunk exploded to a
    row.  chunk_idx is the running boundary count at the chunk's first
    token (the k-th chunk is k, plus one when token 0 is a boundary).
    Each array is its own projected column so the lambdas reference
    it instead of recomputing it per element (operators/text.py
    shingles_from_tokens).  A NULL text has no tokens and no chunks.
    """
    toks = docs.where("text IS NOT NULL").select(
        "doc_id", "source", tokens_expr().alias("toks")
    )
    gear = "pmod(CAST(conv(substring(md5(concat('cdc|', t)), 1, 15), 16, 10) AS BIGINT)"
    return (
        toks.selectExpr("*", f"transform(toks, t -> {gear}, {CDC_MOD}) = 0) AS b")
        .selectExpr(
            "doc_id",
            "source",
            "toks",
            "CAST(b[0] AS BIGINT) AS b0",
            "filter(sequence(0, size(toks) - 1), i -> i = 0 OR b[i]) AS starts",
            "filter(sequence(1, size(toks)), i -> i = size(toks) OR b[i]) AS ends",
        )
        .selectExpr(
            "doc_id",
            "source",
            "inline(transform(starts, (s, k) -> named_struct('chunk_idx', k + b0,"
            " 'n_tok', CAST(ends[k] - s AS BIGINT),"
            " 'chunk_hash', md5(array_join(slice(toks, s + 1, ends[k] - s), ' ')))))",
        )
    )


def cdc_reuse_stats(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """Version-over-version chunk-store ingest report: of corpus v2's
    chunks, how many are REUSED from v1's content-addressed chunk
    store vs genuinely new — one row
    (n_v2_chunks, n_reused, n_new, reuse_ratio_q, n_new_tokens), with
    n_new_tokens the only content a de-duplicating store writes for
    the new version.

    Plan: both versions' chunk rows (cut in-row, no exchange) meet in
    ONE aggregation keyed on chunk_hash that records per hash whether
    v1 holds it, how many v2 instances it has and their tokens; one
    global aggregation then sums the v2-present hashes.  The single
    corpus-scale exchange carries ~1/CDC_MOD-sized chunk rows, never
    text.  At 100 TB the v1 side is the store's existing hash index,
    read not recomputed."""
    rows = (
        cdc_chunks(v1)
        .selectExpr("chunk_hash", "true AS in_v1", "n_tok")
        .unionByName(cdc_chunks(v2).selectExpr("chunk_hash", "false AS in_v1", "n_tok"))
    )
    per = rows.groupBy("chunk_hash").agg(
        F.expr("bool_or(in_v1)").alias("seen"),
        F.expr("count_if(NOT in_v1)").alias("n2"),
        F.expr("sum(IF(in_v1, 0, n_tok))").alias("tok2"),
    )
    # Only v2-present hashes count; an empty v2 still reports 0 chunks
    # (COUNT semantics) with NULL sums.
    return per.where("n2 > 0").agg(
        F.coalesce(F.sum("n2"), F.lit(0)).alias("n_v2_chunks"),
        F.expr("sum(IF(seen, n2, 0))").alias("n_reused"),
        F.expr("sum(IF(seen, 0, n2))").alias("n_new"),
        F.expr("(sum(IF(seen, n2, 0)) * 10000) DIV sum(n2)").alias("reuse_ratio_q"),
        F.expr("sum(IF(seen, 0, tok2))").alias("n_new_tokens"),
    )
