"""Similarity search over the ``embeddings`` table (array<float>).

Two paths, per the standard ANN playbook:

* **Brute-force cosine top-k** — the exact baseline.  Dot products are
  computed JVM-side with ``zip_with``/``aggregate`` (no Python UDFs);
  the query set is broadcast, so the cost is |queries| x |corpus| with
  the corpus fully partition-parallel.  Right answer for small query
  sets or as the verify stage.
* **LSH-bucketed top-k** — the scale path: banded multi-table
  sign-random-projection buckets (hyperplanes derived
  deterministically from md5 so the oracle reproduces them) shrink
  the candidate set to same-bucket docs before exact scoring.  Bucket
  bits scale with the corpus (:func:`lsh_n_bits`), keeping expected
  candidates linear in N; the N_TABLES any-table union buys the
  recall back.  At 100 TB the bucket join replaces the full cross
  product.

Determinism: dot products accumulate in index order on both engines
(``aggregate`` lambda here, ``list_sum(list_transform(...))`` in
DuckDB), so cosines match bit-for-bit before the final ROUND.
"""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: number of independent LSH hash tables (banded multi-table LSH, the
#: same recall-boosting structure the MinHash path uses): a near-dup
#: pair is a candidate if it collides in ANY table, so recall is
#: 1-(1-p^b)^T instead of p^b.
N_TABLES = 4

#: hyperplanes reserved per table.  Each table t draws its planes from
#: the disjoint index range [t*MAX_PLANES, (t+1)*MAX_PLANES); only the
#: first lsh_n_bits(N) of them are active, so the bucket count scales
#: with the corpus while plane identities stay fixed (deterministic
#: for the oracle).  MAX_PLANES bounds corpora to ~2^(MAX_PLANES+2)
#: vectors before bucket occupancy starts growing again — raise it to
#: extend the range (it only adds build-time literals).
MAX_PLANES = 20

#: how many nearest cells an IVF query probes.  5 (r9, from 4): the
#: 10x clustered probe measured recall@5 0.80 (3) -> 0.86 (4) ->
#: 0.90+ (5) — probe cost stays |q| x n_probe x cell size, ~sqrt(N)
#: per query; a 3rd Lloyd iteration was measured to add nothing
#: (0.860 either way), so the knob that pays is the probe.
IVF_N_PROBE = 5

#: embedding dimensionality of the driver corpus (asserted at runtime
#: by zip_with producing nulls on mismatch).
EMB_DIM = 64

#: the query set of every top-k / range operator is ``vec_id < N_QUERIES``.
N_QUERIES = 10

#: neighbors kept per query by the top-k operators.
TOP_K = 5

#: cosine at or above which two driver-corpus embeddings count as near
#: duplicates: the synthetic embeddings are near-orthogonal, so 0.2 is
#: "suspiciously similar" there (a sweep over real model embeddings
#: would run ~0.95).  The near-dup pairs, the SemDeDup drop rule and the
#: range-search radius all use it.
NEAR_DUP_COS = 0.2


def lsh_n_bits(n: int) -> int:
    """Active hyperplanes (bucket bits) per table for a corpus of n
    vectors: ~log2(N) - 2, so buckets-per-table ≈ N/4 and the expected
    same-bucket candidate count stays LINEAR in N (avg occupancy ~4)
    instead of the Θ(N²) a fixed bucket count degrades to.

    Integer-exact on both engines: bit_length here, length(bin(n-1))
    in the DuckDB oracle — no float log2 boundary cases.
    """
    return max(4, min(MAX_PLANES, (max(n, 2) - 1).bit_length() - 2))


def ivf_cell_stride(n: int) -> int:
    """IVF centroid stride = ceil(sqrt(N)), so the cell count is ~√N:
    assign cost N·√N, probe cost |q|·√N — the classic IVF balance
    point.  (A fixed stride makes cells ∝ N and the assign stage
    quadratic.)  Matches the oracle's CAST(ceil(sqrt(COUNT(*))) AS
    BIGINT) exactly: isqrt(n-1)+1 == ceil(sqrt(n)) for n ≥ 1, and
    doubles are exact for every corpus size below 2^52.
    """
    return math.isqrt(max(n, 1) - 1) + 1


@lru_cache(maxsize=None)
def plane_signs(p: int) -> tuple[float, ...]:
    """Deterministic +/-1 hyperplane components, derived from md5 of
    'p|i' — the same derivation the DuckDB oracle used to do inline.
    Folding it to a literal at plan-build time removes dim*N_PLANES
    md5 calls per row on both engines without changing a single
    output bit."""
    return tuple(
        1.0 if int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
        for i in range(EMB_DIM)
    )


def _dot(a: str, b: str) -> F.Column:
    """Index-ordered double-precision dot product of two float arrays
    — the JVM higher-order-function fold.  This fold is the semantics
    the DuckDB oracle mirrors (``list_sum(list_transform(...))``):
    float32 -> float64 casts are exact, products round once, and both
    engines accumulate in index order from +0.0, so they agree
    bit-for-bit."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    """L2 norm of one float array (same accumulation order as _dot)."""
    return F.sqrt(_dot(a, a))


def _cos(dot_a: str, dot_b: str, norm_a: str, norm_b: str) -> F.Column:
    """Rounded cosine from precomputed per-vector norms.

    Norms are computed once per vector BEFORE any pair join (N values,
    not N x M) — the division sees the exact same operand values as
    the inline ``dot/(sqrt(dot aa)*sqrt(dot bb))`` form, so outputs
    are bit-identical to the oracle while the pair stage does one dot
    product instead of three.

    try_divide: cosine against a ZERO-NORM vector is undefined — it
    yields NULL, which every threshold filter drops and every
    descending top-k order sorts last, identically on both engines
    (DuckDB's x/0 is NULL natively).  Under Spark 4's default ANSI
    mode a plain ``/`` instead throws DIVIDE_BY_ZERO, killing the
    whole job on the first degenerate vector — the classic one-bad-row
    100 TB failure (fuzz gate edge corpus, r12).
    """
    return F.round(
        F.try_divide(_dot(dot_a, dot_b), F.col(norm_a) * F.col(norm_b)), 6
    )


def cosine_topk(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    corpus: DataFrame | None = None,
    norms: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for the query set ``vec_id < n_queries``.

    Ranking uses the ROUNDed cosine plus a vec_id tie-break so the
    selected set is deterministic and engine-independent.

    ``corpus`` scores against a different (typically metadata-filtered)
    relation than the one queries are drawn from — the PRE-FILTER
    strategy of filtered vector search: prune candidates before
    scoring, so recall over the allowed set is exact by construction
    (a post-filter over an unfiltered top-k can starve).

    ``norms``, when given, is the stored :func:`with_norms` relation
    (vec_id, embedding, norm), so a caller holding it reuses norms it
    already paid for instead of recomputing the corpus pass; mutually
    exclusive with ``corpus``.
    """
    if norms is not None and corpus is not None:
        raise ValueError("cosine_topk: pass corpus OR norms, not both")
    src = norms if norms is not None else emb
    q = src.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        (F.col("norm") if norms is not None else _norm("embedding")).alias("q_norm"),
    )
    # Corpus side repartitioned so the |q| x |corpus| scoring fan-out
    # parallelizes even when the source is a single file; norms are
    # computed once per corpus vector, not once per (query, vector).
    base = corpus if corpus is not None else src
    pairs = (
        (
            base.select("vec_id", "embedding", F.col("norm").alias("n_norm"))
            if norms is not None
            else base.withColumn("n_norm", _norm("embedding"))
        )
        .repartition("vec_id")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos("q_emb", "embedding", "q_norm", "n_norm").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


#: matryoshka coarse stage: score on the first MRL_DIM of EMB_DIM
#: dimensions (MRL-trained embeddings front-load information, so the
#: prefix is itself a valid lower-resolution embedding — Kusupati et
#: al., "Matryoshka Representation Learning", NeurIPS 2022).  The
#: synthetic test embeddings are NOT MRL-trained (information is
#: spread uniformly), so the half-width prefix is the measured sweet
#: spot: recall@5 = 0.92/0.96 at sf0.001/sf0.01 vs 0.54/0.60 for a
#: 16-dim prefix with a 50-deep shortlist.  On genuinely MRL-trained
#: checkpoints the prefix can shrink further at the same recall.
MRL_DIM = 32

#: candidates kept per query after the coarse pass, re-ranked with the
#: full vector.  recall@k degrades smoothly with this knob — the same
#: shortlist/rerank split PQ serving uses (PQ_RERANK), without needing
#: any trained codebook.  This is the FLOOR: the effective shortlist is
#: max(MRL_SHORTLIST, MRL_SHORTLIST_SQRT_MULT * ceil(sqrt(N))) — a
#: fixed depth over a growing corpus dilutes coarse recall (measured
#: on the clustered 20k probe corpus: 100 -> 0.76, 2*sqrt(N)=284 ->
#: 0.92), and sqrt(N) is the same sublinear growth rule the IVF cell
#: count uses, keeping rerank cost |q| x O(sqrt(N)).
MRL_SHORTLIST = 100

#: multiplier on ceil(sqrt(N)) for the corpus-scaled shortlist depth.
#: 2 measured: sqrt(N)=142 -> 0.84, 2*sqrt(N)=284 -> 0.92 recall@5 on
#: the clustered 10x probe; at driver scales (<= 2500 vectors) the
#: MRL_SHORTLIST floor dominates, so registered results are unchanged.
MRL_SHORTLIST_SQRT_MULT = 2


def mrl_topk(emb: DataFrame, n_corpus: int, k: int = TOP_K) -> DataFrame:
    """Two-stage matryoshka retrieval: coarse cosine over the first
    MRL_DIM dimensions keeps a shortlist per query, then the
    FULL vector re-ranks only those candidates — top-k emitted with
    the deterministic (rounded-score, neighbor_id) tie-break of
    :func:`cosine_topk`.

    The 100 TB shape: the corpus-wide pass touches MRL_DIM/EMB_DIM
    of the vector bytes (store the prefix as its own parquet column
    and the coarse scan reads ONLY it — columnar pruning does the
    byte-level truncation for free; here the slice happens in the
    projection, same plan shape), and the full-width vectors are read
    for |queries| x shortlist rows only, via a broadcast of the
    shortlist ids into the rerank join.  No training, no codebook, no
    index build — the zero-maintenance ANN path when embeddings are
    MRL-trained; contrast ivf_topk (needs k-means) and pq_topk (needs
    codebooks + reconstructions).

    Coarse scores are ROUNDed to 6 dp before the shortlist cut so the
    candidate set is engine-independent (same reason cosine_topk
    rounds): the rounded prefix cosine plus neighbor_id tie-break
    makes both stages exactly reproducible in the DuckDB oracle.

    The shortlist is the corpus-scaled depth
    max(MRL_SHORTLIST, MRL_SHORTLIST_SQRT_MULT * ceil(sqrt(N))) for
    ``n_corpus`` = N, the one ANALYZE-pattern scalar of the operator
    (at 100 TB a catalog statistic; the registry memoizes it per
    session/corpus), so the operator never re-scans the corpus to
    count it.
    """
    shortlist = max(
        MRL_SHORTLIST, MRL_SHORTLIST_SQRT_MULT * math.ceil(math.sqrt(n_corpus))
    )
    pre = f"slice(embedding, 1, {MRL_DIM})"
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.expr(pre).alias("q_pre"),
        _norm("embedding").alias("q_norm"),
    ).withColumn("q_pnorm", _norm("q_pre"))
    coarse = (
        emb.repartition("vec_id")
        .select("vec_id", F.expr(pre).alias("n_pre"))
        .withColumn("n_pnorm", _norm("n_pre"))
        .crossJoin(F.broadcast(q.select("query_id", "q_pre", "q_pnorm")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos("q_pre", "n_pre", "q_pnorm", "n_pnorm").alias("pre_sim"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("pre_sim").desc(), F.col("neighbor_id")
    )
    short = (
        coarse.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    rerank = (
        emb.withColumn("n_norm", _norm("embedding"))
        .join(F.broadcast(short), F.col("vec_id") == F.col("neighbor_id"))
        .join(
            F.broadcast(q.select("query_id", "q_emb", "q_norm")), "query_id"
        )
        .select(
            "query_id",
            "neighbor_id",
            _cos("q_emb", "embedding", "q_norm", "n_norm").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return rerank.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def _table_bucket_expr(emb_col: str, table: int, n_bits: int) -> F.Column:
    """Sign-random-projection bucket id for one LSH table: ``n_bits``
    bits from the table's reserved plane range.

    Each plane's +/-1 components are a build-time literal array
    (:func:`plane_signs`); the projection is an index-ordered
    zip_with/aggregate dot product against it.  Bit j has weight 2^j,
    so this equals the oracle's full-MAX_PLANES bucket mod 2^n_bits.
    """
    if n_bits < 1:
        raise ValueError(
            f"LSH bucket projection needs n_bits >= 1, got {n_bits} "
            "(use lsh_n_bits(corpus_count) for the corpus-scaled default)"
        )
    bits = []
    for j in range(n_bits):
        arr = "array(" + ", ".join(f"{s}D" for s in plane_signs(table * MAX_PLANES + j)) + ")"
        proj = (
            f"aggregate(zip_with({emb_col}, {arr},"
            f" (x, s) -> CAST(x AS DOUBLE) * s),"
            f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    return F.expr(" + ".join(bits))


def lsh_buckets(emb: DataFrame, n_bits: int) -> DataFrame:
    """(vec_id, tbl, bucket) — each vector exploded into its N_TABLES
    bucket assignments.  Slim on purpose: the candidate join runs on
    this 3-column relation and re-joins embeddings only for the
    surviving pairs (the candidate/verify split, same as the MinHash
    path)."""
    cols = [
        F.struct(
            F.lit(t).alias("tbl"),
            _table_bucket_expr("embedding", t, n_bits).alias("bucket"),
        )
        for t in range(N_TABLES)
    ]
    return emb.select("vec_id", F.explode(F.array(*cols)).alias("tb")).select(
        "vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


def with_norms(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, norm) — per-vector L2 norms computed once,
    shared by every pair/scoring stage (N values, never N x M)."""
    return emb.select("vec_id", "embedding", _norm("embedding").alias("norm"))


#: per-bucket candidate window for the near-dup PAIR sweep — the same
#: occupancy cap :func:`knn_graph` carries (r9; its r8 fix pattern,
#: applied here after the 10x hot-corpus probe measured the uncapped
#: bucket self-join at 22.9x).  Within each (tbl, bucket) a member
#: pairs only with its PAIR_WINDOW successors in the table's
#: deterministic md5 shuffle order, so a bucket of occupancy m yields
#: m*window candidate pairs instead of m^2 and total candidates are
#: <= N*window*N_TABLES whatever the occupancy distribution.  Buckets
#: with occupancy <= window+1 (the common case under corpus-scaled
#: bits) still yield their COMPLETE pair set, and a pair missed by one
#: table's window is independently retried by every other table it
#: co-buckets in.  The DuckDB oracle mirrors the cap exactly, so the
#: gate stays a hash-match, never a recall hope.
PAIR_WINDOW = 16


def _bucket_windowed_directed(buckets: DataFrame, window: int) -> DataFrame:
    """Directed (va -> vb) successor pairs within the occupancy-capped
    per-bucket positional window — the ONE expansion both
    :func:`_bucket_windowed_pairs` (canonicalized least/greatest) and
    :func:`knn_graph` (symmetrized both directions) build on, stated
    once so the order key and frame bounds cannot drift between them.
    Plan shape: one sliding window per (tbl, bucket) in md5 order whose
    ``ROWS BETWEEN 1 FOLLOWING AND window FOLLOWING`` frame collects
    each member's successors, then an explode — one exchange, no join,
    no occupancy^2 blowup.  A NULL vec_id holds its position but is
    never collected as a successor; the norms join drops it anyway."""
    order_key = F.md5(
        F.concat_ws(":", F.col("tbl").cast("string"), F.col("vec_id").cast("string"))
    )
    succ = (
        Window.partitionBy("tbl", "bucket")
        .orderBy(order_key, F.col("vec_id"))
        .rowsBetween(1, window)
    )
    return buckets.select(
        F.col("vec_id").alias("va"), F.collect_list("vec_id").over(succ).alias("vbs")
    ).select("va", F.explode("vbs").alias("vb"))


def _bucket_windowed_pairs(buckets: DataFrame, window: int) -> DataFrame:
    """(vec_a < vec_b) candidate pairs from the occupancy-capped
    per-bucket positional window — the shared candidate stage of
    :func:`embedding_near_dup_pairs` and (directionally, pre-
    symmetrization) :func:`knn_graph`."""
    fwd = _bucket_windowed_directed(buckets, window)
    return fwd.select(
        F.least("va", "vb").alias("vec_a"), F.greatest("va", "vb").alias("vec_b")
    ).distinct()


def embedding_near_dup_pairs(
    buckets: DataFrame,
    norms: DataFrame,
    window: int = PAIR_WINDOW,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space analog
    of minhash dedup: candidates meet only inside an LSH bucket (any of
    the N_TABLES tables), then exact cosine keeps the pairs at or above
    :data:`NEAR_DUP_COS`.

    Bucket bits scale with the corpus (:func:`lsh_n_bits`, derived from
    a count at plan-build time — the same one-scan parameter derivation
    an ANALYZE/stats pass does), so expected candidates stay ~linear in
    N; the multi-table union buys back the recall that more bits cost.

    r9: candidates are additionally OCCUPANCY-CAPPED by the per-bucket
    positional window (:data:`PAIR_WINDOW` — the proven knn_graph
    pattern at similarity.py knn_graph), because corpus-scaled bits
    bound EXPECTED occupancy but a clustered corpus concentrates mass
    into hot buckets, and a hot bucket made the uncapped self-join go
    occupancy^2 (measured 22.9x at the 10x probe).  Capped, total
    candidates are <= N*window*N_TABLES; benign buckets (occupancy <=
    window+1) still emit their complete pair set, so at driver scales
    the capped sweep IS the uncapped sweep.  The oracle mirrors the
    cap bit-for-bit.

    ``buckets`` is :func:`lsh_buckets` and ``norms`` is
    :func:`with_norms` over the same corpus — the stored-signature-table
    pattern shared with the MinHash path.
    """
    cand = _bucket_windowed_pairs(buckets, window)
    return (
        cand.join(
            norms.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("emb_a"),
                F.col("norm").alias("norm_a"),
            ),
            "vec_a",
        )
        .join(
            norms.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("emb_b"),
                F.col("norm").alias("norm_b"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            _cos("emb_a", "emb_b", "norm_a", "norm_b").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEAR_DUP_COS)
    )


#: neighbors per vector in the corpus-wide k-NN graph.
KNN_GRAPH_K = 3

#: per-bucket candidate window: each bucket member pairs only with its
#: KNN_WINDOW successors in the bucket's per-table shuffle order, so a
#: bucket of occupancy m contributes m*KNN_WINDOW candidate pairs —
#: linear in m — instead of the m^2 full self-join.
KNN_WINDOW = 16


def knn_graph(buckets: DataFrame, norms: DataFrame) -> DataFrame:
    """Corpus-wide approximate k-NN graph: every vector's top-KNN_GRAPH_K
    most-similar LSH bucket-mates as directed edges (src_id, nbr_id,
    cos_sim, rnk) — the neighbor graph semantic-dedup, graph
    clustering, and label-propagation pipelines consume.

    Candidates are bucket-bounded like :func:`embedding_near_dup_pairs`
    but additionally OCCUPANCY-CAPPED (r8, the round-7 `weak` fix):
    within each (tbl, bucket) the members are laid out in a
    deterministic pseudo-random order (md5 of ``tbl:vec_id`` — a
    different shuffle per table, so a pair missed by one table's
    window is independently retried by every other table it
    co-buckets in) and each member pairs only with its KNN_WINDOW
    successors.  A bucket of occupancy m therefore contributes
    m*KNN_WINDOW pairs instead of m^2: total candidates are <=
    N*KNN_WINDOW*N_TABLES whatever the occupancy distribution, so a hot
    bucket — the thing that made the uncapped build go quadratic on
    clustered corpora — degrades recall smoothly instead of blowing
    up the join.  Buckets with occupancy <= KNN_WINDOW+1 (the common
    case under corpus-scaled bits) still yield their COMPLETE pair
    set, so at driver scales the capped graph is the uncapped graph.

    The window expansion is one sliding frame per (tbl, bucket) that
    collects each member's KNN_WINDOW successors, exploded to edges —
    no join at all, so the bucket relation shuffles once.  The rank
    window engages Spark's WindowGroupLimit: each src group keeps only
    KNN_GRAPH_K rows through the sort, so the post-shuffle state is
    KNN_GRAPH_K·N edges, not the candidate multiset.  At 100 TB both
    signature relations come from the persisted index store — graph
    construction never rescans or re-projects the corpus.
    """
    fwd = _bucket_windowed_directed(buckets, KNN_WINDOW).select(
        F.col("va").alias("src_id"), F.col("vb").alias("nbr_id")
    )
    # Both edge directions from ONE execution of the windowed-expansion
    # subtree (r12): a self-union evaluates `fwd` twice per run (each
    # union branch is an independent subtree — the successor window
    # re-ran for the reversed copy); exploding a 2-array
    # of (fwd, reversed) structs emits the identical row multiset in a
    # single pass.
    cand = (
        fwd.select(
            F.explode(
                F.array(
                    F.struct(F.col("src_id"), F.col("nbr_id")),
                    F.struct(
                        F.col("nbr_id").alias("src_id"),
                        F.col("src_id").alias("nbr_id"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src_id", "e.nbr_id")
        .distinct()
    )
    scored = (
        cand.join(
            norms.select(
                F.col("vec_id").alias("src_id"),
                F.col("embedding").alias("emb_a"),
                F.col("norm").alias("norm_a"),
            ),
            "src_id",
        )
        .join(
            norms.select(
                F.col("vec_id").alias("nbr_id"),
                F.col("embedding").alias("emb_b"),
                F.col("norm").alias("norm_b"),
            ),
            "nbr_id",
        )
        .select(
            "src_id",
            "nbr_id",
            _cos("emb_a", "emb_b", "norm_a", "norm_b").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_GRAPH_K)
        .select("src_id", "nbr_id", "cos_sim", "rnk")
    )


def _bucket_probe_candidates(buckets: DataFrame) -> DataFrame:
    """Slim (query_id, neighbor_id) candidates from the signature
    store: broadcast the tiny query bucket slice against the corpus
    bucket relation, drop self-pairs, dedup multi-table collisions —
    the ONE probe both :func:`range_search` and :func:`lsh_topk` score
    from, stated once so a probe change (e.g. a per-query candidate
    cap) cannot drift the two operators apart."""
    qb = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    return (
        buckets.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )


def range_search(buckets: DataFrame, norms: DataFrame) -> DataFrame:
    """Radius (range) similarity search: for each query vector, EVERY
    corpus neighbor with cosine >= :data:`NEAR_DUP_COS` — the unbounded-k companion
    of top-k search ("all docs suspiciously close to this one"), the
    shape retrieval-dedup sweeps and contamination checks use.

    Candidates come from the same multi-table LSH signature relation
    the near-dup and top-k paths share (corpus-scaled bits, so the
    expected candidate count is linear in N); the exact cosine then
    applies the radius.  The query-side bucket relation is ``N_QUERIES
    x N_TABLES`` rows — broadcast — so the corpus-side signature table
    is probed in place and the corpus itself is touched only to fetch
    candidate embeddings.  Same recall contract as the bucketed
    near-dup path: a pair sharing no bucket in any table is invisible,
    which the multi-table union makes improbable at the radius of
    interest (and the oracle replicates the banding, so the gate is
    exact).
    """
    cand = _bucket_probe_candidates(buckets)
    return (
        cand.join(
            norms.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_emb"),
                F.col("norm").alias("q_norm"),
            ),
            "query_id",
        )
        .join(
            norms.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
                F.col("norm").alias("n_norm"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            _cos("q_emb", "n_emb", "q_norm", "n_norm").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEAR_DUP_COS)
    )


#: Lloyd iterations for the k-means centroid training pass.  Fixed and
#: small on purpose: each iteration is one bounded-sample sweep, and a
#: fixed count lets the DuckDB oracle unroll the exact same iterations
#: as CTE stages.
KMEANS_ITERS = 2

#: sample-size multiple: k-means trains on ~KMEANS_C * sqrt(N) vectors
#: (C points per centroid on average).
KMEANS_C = 4


def kmeans_sample_stride(n: int) -> int:
    """Modulo stride selecting the k-means training sample: every
    ``stride``-th vec_id, sized so the sample is ~KMEANS_C * sqrt(N)
    vectors (bounded training cost at any corpus size).  Integer-exact
    on both engines."""
    k = ivf_cell_stride(n)  # == ceil(sqrt(N)) == centroid count target
    return max(1, n // (KMEANS_C * k))


def ivf_stride_centroids(emb: DataFrame, n: int) -> DataFrame:
    """Zero-training IVF centroids: every :func:`ivf_cell_stride`-th
    vector of an ``n``-vector corpus (~sqrt(N) cells), as
    (cell_id, c_emb, c_norm) — the relation shape
    :func:`kmeans_centroids` returns, so :func:`ivf_topk` probes
    either the same way."""
    stride = ivf_cell_stride(n)
    return emb.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("c_norm"),
    )


def kmeans_centroids(emb: DataFrame, n: int) -> DataFrame:
    """K-means-trained IVF centroids at the same ~sqrt(N) cardinality
    as the stride sample — the quality upgrade over stride-sampled
    centroids for clustered real-world corpora (stride sampling lands
    centroids proportional to data density; Lloyd iterations move them
    to cluster centers, cutting the probe-miss rate).

    Deterministic distributed training, no driver-side state:

    * **sample**: every kmeans_sample_stride(N)-th vector (~C*sqrt(N)
      rows) — a narrow filter, no shuffle.
    * **init**: every C-th sample vector seeds a cell (~sqrt(N) seeds,
      cell_id = seed vec_id) — the stride sample IS the init, so the
      stride variant is exactly "0 iterations" of this operator.
    * **iterate** (fixed KMEANS_ITERS Lloyd steps): assign each sample
      vector to its nearest centroid (ROUNDed cosine, cell_id
      tie-break — deterministic), then recompute each cell's
      element-wise mean.  The mean accumulates in DECIMAL(28,12) after
      a 6-dp round, so it is ORDER-INDEPENDENT and bit-identical on
      any partitioning and in the DuckDB oracle (float-double sums
      would drift with aggregation order); the final divide is exact
      double / int.
    * cells that attract no sample vectors die identically on both
      engines (k-means cell starvation — expected, K shrinks).

    Scale: every stage is bounded by the sample (C*sqrt(N) x sqrt(N)
    scoring fan-out = O(C*N) — same order as one corpus assign pass),
    centroids stay a broadcast-sized relation, and nothing ever
    collects to the driver.  Returns (cell_id, c_emb double[], c_norm).
    """
    ss = kmeans_sample_stride(n)
    sample = emb.filter(F.col("vec_id") % ss == 0).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("s_emb"),
    )
    sample = sample.withColumn("s_norm", _norm("s_emb"))
    cents = sample.filter(F.col("vec_id") % (ss * KMEANS_C) == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("s_emb").alias("c_emb")
    )
    for _ in range(KMEANS_ITERS):
        cn = cents.withColumn("c_norm", _norm("c_emb"))
        w = Window.partitionBy("vec_id").orderBy(F.col("c_sim").desc(), F.col("cell_id"))
        assigned = (
            sample.crossJoin(F.broadcast(cn))
            .withColumn("c_sim", _cos("s_emb", "c_emb", "s_norm", "c_norm"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cell_id", "s_emb")
        )
        means = (
            assigned.select("cell_id", F.posexplode("s_emb").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("val"), 6).cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
        )
        cents = means.groupBy("cell_id").agg(
            F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias(
                "c_emb"
            )
        )
    return cents.select("cell_id", "c_emb", _norm("c_emb").alias("c_norm"))


def ivf_assignments(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell_id, embedding, norm): each corpus vector's single
    nearest IVF cell — the inverted-file assignment relation shared by
    :func:`ivf_topk` (probe-side candidate restriction) and
    :func:`semantic_dedup` (cell-bounded pair enumeration).

    max_by over struct(c_sim, -cell_id) == "highest cosine, then
    lowest cell_id" — a unique key, so the argmax is deterministic.
    Corpus norms are computed once per vector (N values) before the
    N x cells scoring fan-out, then carried through the argmax; the
    map-side partial combine shrinks the scored relation back to N
    rows BEFORE the shuffle, and nothing is ever sorted (a window
    top-1 would shuffle and sort all N x cells rows).  The inverted
    file never materializes on the driver.
    """
    return (
        emb.repartition("vec_id")
        .withColumn("norm", _norm("embedding"))
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "norm",
            "cell_id",
            _cos("embedding", "c_emb", "norm", "c_norm").alias("c_sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(struct(cell_id, embedding, norm), struct(c_sim, -cell_id))"
            ).alias("m")
        )
        .select(
            "vec_id",
            F.col("m.cell_id").alias("cell_id"),
            F.col("m.embedding").alias("embedding"),
            F.col("m.norm").alias("norm"),
        )
    )


#: per-cell quota for cluster-balanced sampling.
CLUSTER_SAMPLE_M = 25


def cluster_sample(assigned: DataFrame) -> DataFrame:
    """Cluster-balanced diversity sample: at most CLUSTER_SAMPLE_M vectors per
    IVF cell, chosen by a content-addressed hash — the embedding-space
    curation step (SemDeDup's sibling: instead of dropping near-dups
    within a cell, cap each cell's contribution so dense regions of
    embedding space can't dominate the training mixture).

    Selection is ``md5('cls|' || vec_id)`` ranked within the cell — a
    deterministic, data-independent coin shared with the curation
    samplers (cur_sample/cur_split), so re-runs and the oracle pick
    identical rows.  ``n_cell`` (pre-cap cell population) rides along
    as the balance diagnostic.

    Scale: ``assigned`` is the :func:`ivf_assignments` inverted file
    (broadcast centroids, map-side argmax — no shuffle beyond the
    vec_id repartition; persisted beside the centroids); the quota
    needs one shuffle keyed by cell_id and a per-cell sort of hash
    values.  Cells are ~sqrt(N) sized by
    construction, so the sort is bounded per task; at extreme corpus
    sizes swap the exact quota for hash-threshold rate sampling
    (keep when h < CLUSTER_SAMPLE_M/n_cell quantile) to avoid the per-cell sort
    entirely — exactness of the quota is the only thing lost.
    """
    a = assigned.select("vec_id", "cell_id")
    h = F.md5(F.concat(F.lit("cls|"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("cell_id").orderBy("h", "vec_id")
    wc = Window.partitionBy("cell_id")
    return (
        a.withColumn("h", h)
        .withColumn("n_cell", F.count(F.lit(1)).over(wc))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= CLUSTER_SAMPLE_M)
        .select("vec_id", "cell_id", "n_cell", "rnk")
    )


def ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    assigned: DataFrame,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the
    cell-probing alternative to sign-projection LSH.

    * **Centroids**: :func:`kmeans_centroids` (the production path) or
      :func:`ivf_stride_centroids` (every ceil(sqrt(N))-th vector).
      Both give ~√N cells — the balance point where assign (N·cells)
      and probe (|q|·cells) stay subquadratic at any corpus size — and
      the plan shape downstream is identical, so the stride variant
      remains the zero-training baseline the k-means variant is
      measured against (scripts/scalecheck.py asserts the recall
      ordering).
    * **Assign**: ``assigned`` is :func:`ivf_assignments` over the same
      ``centroids`` — the inverted file, persisted beside them.
    * **Probe**: each query scores the same centroid set and searches
      its IVF_N_PROBE nearest cells; candidates are only the vectors
      assigned to those cells (the |corpus| x |queries| cross product
      never forms).

    Recall < 1 by design (a true neighbor assigned to an unprobed cell
    is missed) — that is the IVF trade; raise IVF_N_PROBE toward the
    cell count to converge on the brute-force result.
    """
    # Filtered search (pre-filter WITHIN the index): restrict the
    # inverted file to the allowed (vec_id) set BEFORE the candidate
    # join, so only allowed members of probed cells are ever scored.
    # Known filtered-ANN recall caveat: under a selective filter a
    # query's probed cells may hold few allowed members — production
    # raises n_probe with filter selectivity; the exact-scan
    # alternative is cosine_topk(corpus=...).
    if allowed is not None:
        assigned = assigned.join(allowed.select("vec_id"), "vec_id", "left_semi")
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("c_sim").desc(), F.col("cell_id")
    )
    probed = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm("embedding").alias("q_norm"),
        )
        .crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_emb",
            "q_norm",
            "cell_id",
            _cos("q_emb", "c_emb", "q_norm", "c_norm").alias("c_sim"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= IVF_N_PROBE)
        .select("query_id", "q_emb", "q_norm", "cell_id")
    )
    cand = assigned.join(F.broadcast(probed), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos("q_emb", "embedding", "q_norm", "norm").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= TOP_K)


def semantic_dedup(assigned: DataFrame, threshold: float = NEAR_DUP_COS) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding corpus with k-means-cell-bounded
    pair enumeration — keep one representative per group of
    semantically near-identical vectors, without ever forming the
    all-pairs product.

    Rule (deterministic): a vector is **dropped** iff some LOWER-id
    vector in the SAME cell has cosine >= ``threshold`` with it; the
    drop does not require the lower-id neighbor itself to be kept
    (min-id greedy, the same representative convention as
    exact_dedup's min doc_id).  Output is the full decision table
    (vec_id, cell_id, keep).

    Scale shape: pairs exist only inside a cell.  With ~sqrt(N) cells
    of ~sqrt(N) vectors (:func:`kmeans_centroids`), the pair count is
    ~N per cell-partition — quadratic only within a bounded cell,
    never across the corpus; the candidate join runs on the slim
    (vec_id, cell_id) relation and embeddings re-join by vec_id for
    the surviving candidates only (the candidate/verify split shared
    with embedding_near_dup_pairs).  The default threshold is
    :data:`NEAR_DUP_COS`; a real SemDeDup sweep over model embeddings
    runs ~0.95+.

    ``assigned`` is the :func:`ivf_assignments` inverted file over the
    k-means cells — it is referenced four times here (the slim
    projection feeds both candidate self-join sides plus the decision
    spine, and the norm projection feeds both embedding re-joins), so
    callers should persist it.
    """
    slim = assigned.select("vec_id", "cell_id")
    cand = (
        slim.alias("x")
        .join(slim.alias("y"), "cell_id")
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            "cell_id",
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
        )
    )
    wn = assigned.select("vec_id", "embedding", "norm")
    dropped = (
        cand.join(
            wn.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("emb_a"),
                F.col("norm").alias("norm_a"),
            ),
            "vec_a",
        )
        .join(
            wn.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("emb_b"),
                F.col("norm").alias("norm_b"),
            ),
            "vec_b",
        )
        .filter(_cos("emb_a", "emb_b", "norm_a", "norm_b") >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return slim.join(
        dropped.withColumn("is_dup", F.lit(True)), "vec_id", "left"
    ).select("vec_id", "cell_id", F.col("is_dup").isNull().alias("keep"))


def lsh_topk(buckets: DataFrame, norms: DataFrame) -> DataFrame:
    """Approximate top-k: exact cosine restricted to candidates sharing
    an LSH bucket with the query in ANY of the N_TABLES tables (bucket
    bits corpus-scaled via :func:`lsh_n_bits`).  Returns <= TOP_K
    neighbors per query (fewer when the buckets are sparse — that's the ANN
    recall trade; the table union multiplies the collision chance).

    ``buckets``/``norms`` are the signature relations shared with the
    near-dup path (:func:`lsh_buckets`, :func:`with_norms`).
    """
    cand = _bucket_probe_candidates(buckets)
    q_emb = norms.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        cand.join(
            norms.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
                F.col("norm").alias("n_norm"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q_emb), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _cos("q_emb", "n_emb", "q_norm", "n_norm").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= TOP_K)


def sq8_dequantized(emb: DataFrame) -> DataFrame:
    """Scalar-quantize each embedding to int8 and return the
    dequantized reconstruction — the SQ8 compression step that cuts an
    ANN corpus's resident vector memory 4x vs float32 (8x vs double)
    at ~1% cosine error, standard practice before IVF/LSH at corpus
    sizes where full-precision vectors don't fit the cluster.

    Per-vector symmetric quantization: scale s = 127 / max|x_i| (the
    1e-30 floor guards all-zero vectors), q_i = round(x_i * s) stored
    as TINYINT, reconstruction q_i / s.  Every step is deterministic
    double arithmetic + away-from-zero rounds that Spark and DuckDB
    share, so the oracle reproduces reconstructions bit-for-bit.

    Returns (vec_id, qarr tinyint[], s, de double[]) — qarr is what a
    production pipeline persists; ``de`` feeds exact rescoring here.
    """
    z = emb.select(
        "vec_id",
        "embedding",
        F.expr(
            "127.0 / greatest(array_max(transform(embedding,"
            " x -> abs(CAST(x AS DOUBLE)))), 1e-30d)"
        ).alias("s"),
    )
    return z.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * s, 0) AS TINYINT))"
        ).alias("qarr"),
        "s",
    ).select(
        "vec_id",
        "qarr",
        "s",
        F.expr("transform(qarr, v -> CAST(v AS DOUBLE) / s)").alias("de"),
    )


def sq8_topk(emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Top-k cosine neighbors scored against the SQ8-dequantized
    corpus (full-precision queries, compressed corpus) — the memory-
    bounded rescoring mode.  Same plan shape as :func:`cosine_topk`:
    corpus-parallel scoring fan-out against a broadcast query set,
    per-corpus-vector norms computed once, window top-k per query."""
    dq = sq8_dequantized(emb)
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_norm"),
    )
    pairs = (
        dq.repartition("vec_id")
        .withColumn("n_norm", F.sqrt(F.expr(
            "aggregate(zip_with(de, de, (x, y) -> x * y),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            F.try_divide(
                F.expr(
                    "aggregate(zip_with(q_emb, de, (x, y) -> CAST(x AS DOUBLE) * y),"
                    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
                ),
                F.col("q_norm") * F.col("n_norm"),
            ),
            6,
        ).alias("cos_sim"),  # try_divide: zero-norm contract, see _cos
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — r3
# ---------------------------------------------------------------------------

#: PQ layout: EMB_DIM is split into PQ_M contiguous subspaces of
#: PQ_DSUB dims; each gets a PQ_K-codeword codebook, so a vector
#: stores as PQ_M small codes (4 bytes here vs 256 float32 bytes —
#: 64x).  PQ_C is the training-sample multiple per codeword.
PQ_M = 4
PQ_DSUB = EMB_DIM // PQ_M
PQ_K = 256
PQ_C = 8

#: ADC candidate depth for the exact-rerank stage of pq_topk/ivfpq_topk.
#: Measured on the clustered scalecheck corpus (20k vectors,
#: recall@5 vs brute force): 100 -> pq 0.48 / ivfpq 0.66;
#: 400 -> pq 0.68 / ivfpq 0.82.  Depth costs |queries| * rerank exact
#: rescores — query-time only, no index/compression change (the 64x
#: PQ_M=4 layout stays) — so 400 is the better default; the floors are
#: asserted in scripts/scalecheck.py.
PQ_RERANK = 400


def _sq_l2(a: str, b: str) -> F.Column:
    """Rounded squared-L2 distance of two double arrays, accumulating
    in index order (the PQ assignment metric; rounding makes the
    argmin tie-set identical on both engines)."""
    return F.round(
        F.expr(
            f"aggregate(zip_with({a}, {b},"
            f" (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
            f"          * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
            f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        ),
        6,
    )


def pq_sample_stride(n: int) -> int:
    """Modulo stride for the PQ training sample (~PQ_K * PQ_C vectors;
    codebooks are tiny, so the sample is too)."""
    return max(1, n // (PQ_K * PQ_C))


def pq_codebooks(emb: DataFrame, n: int) -> DataFrame:
    """Per-subspace PQ codebooks — k-means in each of the PQ_M
    16-dim slices, with the same determinism contract as
    :func:`kmeans_centroids`: modulo sample (~PQ_K*PQ_C vectors),
    modulo seeds (~PQ_K), fixed Lloyd iterations, squared-L2
    assignment on ROUNDed distances with codeword-id tie-break, and
    order-independent DECIMAL(28,12) means — so the DuckDB oracle
    reproduces training bit-for-bit by unrolling the same stages per
    subspace.

    Returns (m, cell_id, c_emb double[PQ_DSUB]) — PQ_M * ~PQ_K rows,
    broadcast-sized at any corpus scale.  Scale: training cost is
    O(sample * PQ_K) per subspace per iteration — constant-bounded.
    """
    ss = pq_sample_stride(n)
    seed_s = ss * PQ_C
    books = []
    for m in range(PQ_M):
        lo = m * PQ_DSUB + 1
        sub = emb.filter(F.col("vec_id") % ss == 0).select(
            "vec_id",
            F.expr(
                f"transform(slice(embedding, {lo}, {PQ_DSUB}), x -> CAST(x AS DOUBLE))"
            ).alias("s_emb"),
        )
        cents = sub.filter(F.col("vec_id") % seed_s == 0).select(
            F.col("vec_id").alias("cell_id"), F.col("s_emb").alias("c_emb")
        )
        for _ in range(KMEANS_ITERS):
            w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cell_id"))
            assigned = (
                sub.crossJoin(F.broadcast(cents))
                .withColumn("d2", _sq_l2("s_emb", "c_emb"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("cell_id", "s_emb")
            )
            means = (
                assigned.select("cell_id", F.posexplode("s_emb").alias("pos", "val"))
                .groupBy("cell_id", "pos")
                .agg(
                    (
                        F.sum(F.round(F.col("val"), 6).cast("decimal(28,12)")).cast(
                            "double"
                        )
                        / F.count(F.lit(1))
                    ).alias("mv")
                )
            )
            cents = means.groupBy("cell_id").agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)"
                ).alias("c_emb")
            )
        books.append(cents.select(F.lit(m).alias("m"), "cell_id", "c_emb"))
    out = books[0]
    for b in books[1:]:
        out = out.unionByName(b)
    return out


def pq_encode(emb: DataFrame, books: DataFrame) -> DataFrame:
    """Assign every vector its nearest codeword per subspace:
    (vec_id, m, code).  One broadcast join against the ~PQ_M*PQ_K-row
    codebook with a per-(vector, subspace) argmin — the narrow encode
    pass a production pipeline persists as the compressed corpus."""
    w = Window.partitionBy("vec_id", "m").orderBy(F.col("d2").asc(), F.col("cell_id"))
    return (
        emb.select("vec_id", "embedding")  # drop any carrier columns (e.g. a
        .repartition("vec_id")             # coarse cell id) that would collide
        .crossJoin(F.broadcast(books))     # with the codebook's cell_id
        .withColumn(
            "s_emb",
            F.expr(f"transform(slice(embedding, m * {PQ_DSUB} + 1, {PQ_DSUB}),"
                   f" x -> CAST(x AS DOUBLE))"),
        )
        .withColumn("d2", _sq_l2("s_emb", "c_emb"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("cell_id").alias("code"))
    )


def pq_reconstruct(codes: DataFrame, books: DataFrame) -> DataFrame:
    """Decode: concatenate each vector's codewords in subspace order
    -> (vec_id, recon double[EMB_DIM])."""
    return (
        codes.join(
            F.broadcast(books), (codes.m == books.m) & (codes.code == books.cell_id)
        )
        .select("vec_id", codes.m.alias("sm"), "c_emb")
        .groupBy("vec_id")
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list(struct(sm, c_emb))),"
                " s -> s.c_emb))"
            ).alias("recon")
        )
    )


def pq_topk(
    emb: DataFrame,
    recon: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
) -> DataFrame:
    """Approximate top-k via the ADC + exact-rerank pipeline: score
    every corpus vector against the query on its PQ RECONSTRUCTION
    (64x-compressed: PQ_M 1-byte codes vs 256 float32 bytes), keep the
    top :data:`PQ_RERANK` candidates per query, then rescore exactly
    those with the full-precision vectors and emit the top ``k``.

    This is the standard memory-bounded serving shape (compressed
    corpus resident, full vectors touched only for the candidate
    slice): the ADC pass is the same plan as :func:`cosine_topk` with
    the corpus side decoded from codes + broadcast codebook; the
    rerank stage joins full embeddings for |q| * PQ_RERANK rows only.
    Recall = P(true top-k survives the ADC top-PQ_RERANK).

    ``recon`` is :func:`pq_reconstruct` of :func:`pq_encode` under the
    :func:`pq_codebooks` — in production both persist beside the
    corpus as the PQ index.
    """
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_norm"),
    )
    pairs = (
        recon.withColumn("n_norm", _norm("recon"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "q_emb",
        "q_norm",
        _cos("q_emb", "recon", "q_norm", "n_norm").alias("adc_sim"),
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= PQ_RERANK)
        .select("query_id", "neighbor_id", "q_emb", "q_norm")
    )
    exact = cand.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("n_emb"),
            _norm("embedding").alias("n_norm"),
        ),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        _cos("q_emb", "n_emb", "q_norm", "n_norm").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return exact.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ivfpq_residuals(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Coarse-assign every vector to its nearest k-means cell (rounded
    cosine, cell_id tie-break — the same max_by argmax as
    :func:`ivf_topk`'s assign stage) and subtract the centroid:
    (vec_id, cell_id, embedding = residual double[EMB_DIM]).

    The residual column keeps the name ``embedding`` on purpose so the
    PQ train/encode operators run on it unchanged.
    """
    assigned = (
        emb.repartition("vec_id")
        .withColumn("norm", _norm("embedding"))
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "cell_id",
            "c_emb",
            _cos("embedding", "c_emb", "norm", "c_norm").alias("c_sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(struct(cell_id, embedding, c_emb), struct(c_sim, -cell_id))"
            ).alias("a")
        )
    )
    return assigned.select(
        "vec_id",
        F.col("a.cell_id").alias("cell_id"),
        F.expr(
            "zip_with(a.embedding, a.c_emb, (x, c) -> CAST(x AS DOUBLE) - c)"
        ).alias("embedding"),
    )


def ivfpq_reconstruct(emb: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """The IVF-PQ compressed corpus, decoded: (vec_id, cell_id, recon)
    with recon = coarse centroid + PQ-decoded residual.  Residuals
    against the k-means ``cents`` (:func:`ivfpq_residuals`), per-subspace
    residual codebooks trained on the ``n``-vector corpus + encode
    (:func:`pq_codebooks`/:func:`pq_encode` — the residual relation
    exposes the same column shape), decode, centroid added back —
    KEYED BY CELL so :func:`ivfpq_topk` probes by cell_id."""
    resid = ivfpq_residuals(emb, cents)
    books = pq_codebooks(resid, n)
    rrec = pq_reconstruct(pq_encode(resid, books), books)
    return (
        rrec.join(resid.select("vec_id", "cell_id"), "vec_id")
        .join(F.broadcast(cents.select("cell_id", "c_emb")), "cell_id")
        .select(
            "vec_id",
            "cell_id",
            F.expr("zip_with(c_emb, recon, (c, r) -> c + r)").alias("recon"),
        )
    )


def ivfpq_topk(
    emb: DataFrame,
    cents: DataFrame,
    recon: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
) -> DataFrame:
    """IVF-PQ: product quantization of the RESIDUAL after coarse
    k-means assignment — the composition real ANN services deploy
    (FAISS's IVFPQ).  Plain PQ quantizes absolute positions, so on
    clustered corpora every member of a cluster collapses to nearly
    the same reconstruction and within-cluster ranking is lost; the
    coarse centroid absorbs the cluster mean and the codebooks spend
    their entire budget on the informative residual
    (reconstruction = centroid + residual decode).

    Pipeline: coarse cells ``cents`` (:func:`kmeans_centroids`,
    ~sqrt(N)) → ``recon`` (:func:`ivfpq_reconstruct` over those cells)
    → probe-limited search: each query scores the broadcast centroid set,
    keeps its IVF_N_PROBE nearest cells, and ADC-scores ONLY the
    reconstructions assigned to those cells (an equi-join on cell_id —
    query cost is the probed cells' population, never |q|·N, unlike
    plain PQ's full ADC sweep) → exact rerank of the top-PQ_RERANK
    ADC survivors.  Storage per vector: PQ_M bytes + one cell id.

    scripts/scalecheck.py measures the recall ladder
    (plain-PQ ≤ IVF-PQ) on its clustered corpus.
    """
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("c_sim").desc(), F.col("cell_id")
    )
    probed = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm("embedding").alias("q_norm"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn("c_sim", _cos("q_emb", "c_emb", "q_norm", "c_norm"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= IVF_N_PROBE)
        .select("query_id", "q_emb", "q_norm", "cell_id")
    )
    adc = (
        recon.join(F.broadcast(probed), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "q_emb",
            "q_norm",
            F.round(
                F.try_divide(
                    _dot("q_emb", "recon"),
                    F.col("q_norm") * F.sqrt(_dot("recon", "recon")),
                ),
                6,
            ).alias("adc_sim"),  # try_divide: zero-norm contract, see _cos
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id")
    )
    cand = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= PQ_RERANK)
        .select("query_id", "neighbor_id", "q_emb", "q_norm")
    )
    exact = cand.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("n_emb"),
            _norm("embedding").alias("n_norm"),
        ),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        _cos("q_emb", "n_emb", "q_norm", "n_norm").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return exact.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def contrastive_negatives(emb: DataFrame, buckets: DataFrame) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each anchor (vec_id < N_QUERIES), TOP_K corpus vectors that
    share NO LSH bucket with the anchor in ANY table (the "provably
    not-near under the banding" complement of the near-dup candidate
    set), chosen by a content-addressed md5 coin — the
    (anchor, negative) pair mining step of a contrastive/embedding
    training pipeline, where sampling a near-duplicate as a "negative"
    poisons the loss.

    Exclusion is the exact complement of the candidate sets the dedup
    and top-k paths build from the same signature store: a vector is
    eligible iff it collides with the anchor in zero tables, so every
    excluded pair is precisely one the LSH considers possibly-near.
    Selection is ``md5('neg|' || anchor || '|' || vec_id)`` rank —
    data-independent, append-stable, identical on both engines.

    Scale shape: anchors' bucket signatures (``N_QUERIES x N_TABLES``
    rows) broadcast against the stored corpus signature relation to
    form the mate (exclusion) set — bounded by the anchors' bucket
    occupancies.  The eligible relation is anchors x corpus (the same
    deliberate broadcast fan-out as brute-force scoring, |q| rows
    broadcast); the per-anchor rank filter engages the Partial
    WindowGroupLimit, so the shuffle carries at most
    TOP_K x anchors x input-partitions rows — never the fan-out itself.
    """
    q_sig = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    mates = (
        buckets.join(F.broadcast(q_sig), ["tbl", "bucket"])
        .select("query_id", "vec_id")
        .distinct()
    )
    anchors = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id")
    )
    # The mates exclusion set is UNHINTED on purpose: on a hot-bucket
    # (clustered) corpus it approaches |q| x N rows, and a forced
    # F.broadcast would ship that to every executor.  AQE broadcasts
    # the anti-join side when it measures small and falls back to a
    # shuffled anti-join when it doesn't — the honest scale behavior.
    cand = (
        emb.select("vec_id")
        .crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(mates, ["query_id", "vec_id"], "left_anti")
    )
    coin = F.md5(
        F.concat_ws(
            "|",
            F.lit("neg"),
            F.col("query_id").cast("string"),
            F.col("vec_id").cast("string"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(coin, F.col("vec_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neg_id"), "rnk")
    )


# ---------------------------------------------------------------------------
# Distributed PCA over the embedding corpus (power iteration on the
# second-moment matrix).
#
# The 100 TB shape is the classic two-phase moment aggregation every
# distributed PCA uses (e.g. Spark MLlib's RowMatrix.computeGramian,
# Halko et al. 2011 for why a handful of power steps suffice when the
# spectrum decays): ONE Arrow-vectorized pass over the corpus computes
# per-batch partials (n, column sums, X^T X) whose size is O(d^2) and
# INDEPENDENT of N — a 64-dim corpus carries 4096 doubles of state per
# batch whether the batch holds 10^3 or 10^9 rows — and the eigensolve
# itself happens on the collected d x d matrix (an ANALYZE-pattern
# scalar, like the k-means centroid collects).  There is no N x d^2
# explode and no shuffle wider than #batches x d^2.
#
# Cross-engine bit-stability contract (what lets DuckDB hash-match the
# registered queries): the covariance is QUANTIZED to 1e-6 before the
# eigensolve, and every downstream reduction is written as the same
# left fold with a 0.0 initial element in Python (functools.reduce),
# Spark SQL (F.aggregate), and DuckDB (list_reduce over list_prepend
# (0.0, ...)) — identical IEEE-754 double operations in an identical
# association order produce identical bits, so fixed-point outputs
# match exactly even after 2 x PCA_ITERS matrix-vector products.
# ---------------------------------------------------------------------------

#: power-iteration steps per component.  Convergence is NOT required
#: for cross-engine correctness — both engines run the identical steps
#: on the identical quantized matrix, so the gate stays a hash-match
#: even unconverged — but the driver corpus is near-isotropic
#: (lam2/lam1 = 0.93) and 12 steps left lam1 7% short of numpy's
#: eigh; 80 measures rel error 5e-8 (lam1) / 2e-4 (lam2), under the
#: 1e-3 test bound, at ~1.8 s oracle cost (recursive CTE).
PCA_ITERS = 80

#: leading components extracted (the second via one deflation step:
#: C2 = C - lam1 * v1 v1^T).
PCA_COMPONENTS = 2

#: fixed-point grid the covariance is snapped to before the eigensolve
#: (1e-6).  Spark's and DuckDB's moment SUMs associate differently, so
#: their raw doubles differ in the last bits; snapping both to this
#: grid makes the eigensolve input — and therefore every downstream
#: bit — identical.  At ~1e-11 absolute sum error the grid has ~1e5
#: headroom.
PCA_QUANT = 1e6

#: largest dimension the exact-fold driver eigensolve runs at.  The
#: pure-Python fold path exists for one reason — its association order
#: is the cross-engine oracle contract, and every oracle-paired PCA
#: query runs at EMB_DIM (64) — but it is O(d^2) Python-interpreted
#: work per matvec: measured 62 s at d=2048 vs ~4 s at 512 (r11).
#: Above this cap :func:`pca_power_model` runs the numpy solver: the
#: SAME power-iteration-with-deflation on the SAME 1e-6-quantized
#: covariance, BLAS-accumulated — bit-divergent from
#: the fold contract only through summation association (absorbed by
#: the quantization grid's ~1e5 headroom), at dims where no oracle
#: exists to compare bits against.  LLM embedding corpora run d=1-4k;
#: scalecheck's pca_dim_probe gates d=2048 through the numpy solver.
PCA_FOLD_MAX_DIM = 512


def embedding_moment_partials(emb: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """Per-Arrow-batch second-moment partials of the embedding corpus:
    one output row per batch with ``n`` (rows), ``s`` (column sums,
    d doubles) and ``ss`` (X^T X row-major, d^2 doubles) — the
    map-side-combine stage of distributed PCA.  numpy's BLAS does the
    d^2 work per batch; nothing row-at-a-time crosses the Arrow
    boundary, and downstream state is O(#batches * d^2), never O(N)."""

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if X.shape[1] != dim:
                # pca_power_model indexes ss with stride dim; a width
                # mismatch would silently fold a garbage covariance
                # (r11 review: the parameter used to be ignored)
                raise ValueError(
                    f"embedding_moment_partials: corpus dim {X.shape[1]} "
                    f"!= requested dim {dim}"
                )
            yield pd.DataFrame(
                {
                    "n": [int(X.shape[0])],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [(X.T @ X).ravel().tolist()],
                }
            )

    return emb.select("embedding").mapInPandas(
        batches, "n bigint, s array<double>, ss array<double>"
    )


def _fold(terms: list[float]) -> float:
    """Left fold with a 0.0 initial element — the Python mirror of
    DuckDB's ``list_reduce(list_prepend(0.0, ...), (a,b) -> a+b)`` and
    Spark's ``F.aggregate(_, lit(0.0), (a,b) -> a+b)``.  NOT math.fsum
    and NOT sum(): the association order is part of the cross-engine
    contract."""
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def _matvec(m: list[float], v: list[float], d: int) -> list[float]:
    return [_fold([m[i * d + j] * v[j] for j in range(d)]) for i in range(d)]


def pca_power_model(partials: list, dim: int = EMB_DIM) -> dict:
    """Combine the collected moment partials and extract the leading
    PCA_COMPONENTS eigenpairs by power iteration with deflation —
    driver-side math on the d x d matrix (the ANALYZE-pattern scalar
    stage; at d=64 this is 4096 doubles, not data).

    Every expression below is the literal Python transcription of the
    generated DuckDB CTEs (plans.scale_queries._pca_cte_prefix): same
    quantization grid, same left folds, same association — change one
    side only in lockstep with the other.

    Returns ``{"n", "mu_q", "m_q", "trace_q", "comps": [(lam, v),...]}``
    with ``mu_q``/``m_q`` snapped to the 1e-6 grid and lam/v raw
    doubles (bit-identical across engines by construction).

    Above :data:`PCA_FOLD_MAX_DIM` the IDENTICAL algorithm (same sort,
    same quantization grid, same iteration count and deflation) runs
    BLAS-accumulated instead (:func:`_pca_power_model_np`): the fold
    contract covers every oracle dim, and at d=1-4k the interpreted
    folds cost minutes for no gate.
    """
    if dim > PCA_FOLD_MAX_DIM:
        return _pca_power_model_np(partials, dim)
    d = dim
    # deterministic combine order (partition/batch order is not part
    # of the contract): sort by FULL content — (n, s) alone could tie
    # for two identical-sum batches and leave the fold order hanging
    # on collect order
    parts = sorted(
        ((int(p[0]), list(p[1]), list(p[2])) for p in partials),
        key=lambda p: (p[0], p[1], p[2]),
    )
    n = float(sum(p[0] for p in parts))
    if n < 2:
        raise ValueError(f"PCA needs >= 2 vectors, got {n}")
    s = [_fold([p[1][i] for p in parts]) for i in range(d)]
    ss = [_fold([p[2][k] for p in parts]) for k in range(d * d)]

    def q(x: float) -> float:
        return math.floor(x * PCA_QUANT + 5e-1) / PCA_QUANT

    mu_q = [q(s[i] / n) for i in range(d)]
    raw = [(ss[i * d + j] - s[i] * s[j] / n) / n for i in range(d) for j in range(d)]
    m_q = [
        q((raw[i * d + j] + raw[j * d + i]) * 0.5)
        for i in range(d)
        for j in range(d)
    ]
    trace_q = _fold([m_q[i * d + i] for i in range(d)])

    comps: list[tuple[float, list[float]]] = []
    m = list(m_q)
    for _ in range(PCA_COMPONENTS):
        v = [1.0] * d
        for _ in range(PCA_ITERS):
            w = _matvec(m, v, d)
            nrm = math.sqrt(_fold([x * x for x in w]))
            v = [x / nrm for x in w]
        w = _matvec(m, v, d)
        lam = _fold([v[i] * w[i] for i in range(d)])
        comps.append((lam, v))
        m = [
            m[i * d + j] - lam * v[i] * v[j]
            for i in range(d)
            for j in range(d)
        ]
    return {"n": n, "mu_q": mu_q, "m_q": m_q, "trace_q": trace_q, "comps": comps}


def _pca_power_model_np(partials: list, dim: int) -> dict:
    """BLAS-accumulated twin of the fold path in
    :func:`pca_power_model` — same deterministic combine order, same
    1e-6 quantization, same power steps and deflation, with numpy
    doing the d^2 work (measured 62 s -> <1 s at d=2048, r11).  Bits
    may differ from the fold contract only through summation
    association, which the quantization grid absorbs; keep every
    constant and step in lockstep with the fold path."""
    import numpy as np

    d = dim
    parts = sorted(
        ((int(p[0]), list(p[1]), list(p[2])) for p in partials),
        key=lambda p: (p[0], p[1], p[2]),
    )
    n = float(sum(p[0] for p in parts))
    if n < 2:
        raise ValueError(f"PCA needs >= 2 vectors, got {n}")
    # Sequential left fold over the sorted partials (a loop of += IS
    # the per-element left fold), NOT np.sum: pairwise association can
    # land a sum on a different side of the 1e-6 quantization boundary
    # than the fold contract, and these accumulate BEFORE q() (r11
    # advice).  Still vectorized per-element, so the d^2 work stays in
    # BLAS-speed numpy.
    s = np.zeros(d, dtype=np.float64)
    ss = np.zeros(d * d, dtype=np.float64)
    for p in parts:
        s += np.asarray(p[1], dtype=np.float64)
        ss += np.asarray(p[2], dtype=np.float64)
    ss = ss.reshape(d, d)

    def q(x):
        return np.floor(x * PCA_QUANT + 5e-1) / PCA_QUANT

    mu_q = q(s / n)
    raw = (ss - np.outer(s, s) / n) / n
    m_q = q((raw + raw.T) * 0.5)
    # sequential left-fold, NOT np.trace: scalecheck's trace-identity
    # check folds the diagonal sequentially, and pairwise summation's
    # deviation grows with d — keep the trace in lockstep with the
    # fold path even on the BLAS route
    trace_q = _fold([float(m_q[i, i]) for i in range(d)])

    comps: list[tuple[float, list[float]]] = []
    m = m_q.copy()
    for _ in range(PCA_COMPONENTS):
        v = np.ones(d)
        for _ in range(PCA_ITERS):
            w = m @ v
            v = w / math.sqrt(float(w @ w))
        w = m @ v
        lam = float(v @ w)
        comps.append((lam, v.tolist()))
        m = m - lam * np.outer(v, v)
    return {
        "n": n,
        "mu_q": mu_q.tolist(),
        "m_q": m_q.reshape(-1).tolist(),
        "trace_q": trace_q,
        "comps": comps,
    }


def pca_project_scores(
    emb: DataFrame, model: dict, dim: int = EMB_DIM
) -> DataFrame:
    """Per-vector projections onto the model's top-2 principal axes
    plus the Mahalanobis distance in that subspace — the outlier /
    drift score a curation pipeline thresholds on.  The model enters
    as broadcast literals (it is d + 2d + 2 doubles), so the plan is a
    zero-shuffle narrow map over the corpus; fixed-point columns are
    the cross-engine-stable surface.
    """
    mu = F.array(*[F.lit(x) for x in model["mu_q"]])
    (lam1, v1), (lam2, v2) = model["comps"][0], model["comps"][1]
    a1 = F.array(*[F.lit(x) for x in v1])
    a2 = F.array(*[F.lit(x) for x in v2])

    def proj(axis: F.Column) -> F.Column:
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)),
            F.lit(0.0),
            lambda acc, j: acc
            + (
                F.element_at(F.col("embedding"), j).cast("double")
                - F.element_at(mu, j)
            )
            * F.element_at(axis, j),
        )

    pc1, pc2 = proj(a1), proj(a2)
    maha = pc1 * pc1 / F.lit(lam1) + pc2 * pc2 / F.lit(lam2)

    def e4(c: F.Column) -> F.Column:
        return F.floor(c * F.lit(1e4) + F.lit(5e-1)).cast("long")

    return emb.select(
        "vec_id",
        "label",
        e4(pc1).alias("pc1_e4"),
        e4(pc2).alias("pc2_e4"),
        e4(maha).alias("maha_e4"),
    )
