"""Corpus-scaled ANN parameter checks (VERDICT r1 items 1):

The two round-1 scale defects were fixed parameters — a constant LSH
bucket count (quadratic candidate growth) and a constant IVF centroid
stride (cell count linear in N).  These tests pin the fix: parameters
must grow with the corpus, and the LSH candidate count must grow
~linearly (not quadratically) between the sf0.001 corpus (500 vectors)
and the sf0.1 corpus (2000 vectors).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chinook_music_database_analysis_spark.operators.similarity import (
    N_TABLES,
    ivf_cell_stride,
    lsh_buckets,
    lsh_n_bits,
)


def test_lsh_bits_scale_with_corpus():
    # buckets/table ~ N/4 -> expected same-bucket pairs linear in N.
    assert lsh_n_bits(500) == 7
    assert lsh_n_bits(2000) == 9
    assert lsh_n_bits(1 << 30) == 20  # capped by MAX_PLANES
    assert lsh_n_bits(1) == 4  # floor


def test_ivf_stride_is_ceil_sqrt(spark):
    # cells ~ sqrt(N): assign cost N*sqrt(N), never N^2/const.
    assert ivf_cell_stride(500) == 23  # ceil(sqrt(500)) = 23
    assert ivf_cell_stride(2000) == 45
    assert ivf_cell_stride(1444) == 38  # perfect square boundary
    assert ivf_cell_stride(1) == 1

    # the stride centroids over a 0..n-1 vec_id corpus: every stride-th
    # vector, so ceil(n / stride) cells, each id a stride multiple
    from chinook_music_database_analysis_spark.operators.similarity import (
        ivf_stride_centroids,
    )

    from conftest import SF_TEST_DIR

    emb = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
    n = emb.count()
    stride = ivf_cell_stride(n)
    assert emb.agg(F.min("vec_id"), F.max("vec_id")).first() == (0, n - 1)
    ids = [r.cell_id for r in ivf_stride_centroids(emb, n).collect()]
    assert len(ids) == -(-n // stride)
    assert all(c % stride == 0 for c in ids)


def _n_candidates(spark, sf_dir: str) -> tuple[int, int]:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    bk = lsh_buckets(emb, lsh_n_bits(n))
    pairs = (
        bk.alias("a")
        .join(bk.alias("b"), ["tbl", "bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
        .count()
    )
    return pairs, n


def test_lsh_candidate_count_grows_linearly(spark):
    c_small, n_small = _n_candidates(spark, "/root/testdata/sf0.001")
    c_big, n_big = _n_candidates(spark, "/root/testdata/sf0.1")
    growth = n_big / n_small  # 4x corpus
    assert lsh_n_bits(n_big) > lsh_n_bits(n_small)  # bits actually scaled
    # Linear-ish: candidate growth must stay well under the quadratic
    # growth^2 (16x here); allow 2x headroom over exactly-linear for
    # bucket-occupancy noise.
    assert c_big <= max(c_small, 1) * growth * 2, (c_small, c_big)
    # And the candidate set is a real reduction, not all-pairs.
    assert c_big < n_big * (n_big - 1) / 2 * 0.25
    # Multi-table union really is bounded by T * per-table load.
    assert c_big <= N_TABLES * n_big * 8


def test_sq8_quantization_type_and_recall(spark):
    """SQ8 storage must actually be int8 (the 4x memory claim), the
    reconstruction error must be small (~1/254 per component), and
    rescoring on the dequantized corpus must keep high recall vs exact
    brute force."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, ByteType

    from chinook_music_database_analysis_spark.operators.similarity import (
        cosine_topk,
        sq8_dequantized,
        sq8_topk,
    )
    from chinook_music_database_analysis_spark.sources import load_tables

    from conftest import SF_TEST_DIR

    emb = load_tables(spark, SF_TEST_DIR)["embeddings"]
    dq = sq8_dequantized(emb)
    assert isinstance(dq.schema["qarr"].dataType, ArrayType)
    assert isinstance(dq.schema["qarr"].dataType.elementType, ByteType)
    # max per-component reconstruction error <= 0.5/s = max|x|/254
    err = (
        dq.join(emb, "vec_id")
        .select(
            F.expr(
                "array_max(transform(zip_with(embedding, de,"
                " (x, y) -> abs(CAST(x AS DOUBLE) - y)), v -> v))"
            ).alias("e"),
            F.expr(
                "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 253.9"
            ).alias("bound"),
        )
        .filter(F.col("e") > F.col("bound"))
        .count()
    )
    assert err == 0
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, 10, 5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in sq8_topk(emb, 10, 5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_pq_structure_and_rerank_recall(spark):
    """PQ invariants: every vector gets exactly PQ_M codes, codebooks
    hold ~PQ_K codewords of PQ_DSUB dims, reconstructions are full
    length, encode is deterministic across rebuilds, and the
    ADC + exact-rerank pipeline keeps usable recall vs brute force
    (raw recon ranking is allowed to be weak — random Gaussians are
    incompressible; the rerank stage is what serves)."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.similarity import (
        PQ_DSUB,
        PQ_M,
        cosine_topk,
        ivfpq_reconstruct,
        ivfpq_topk,
        kmeans_centroids,
        pq_codebooks,
        pq_encode,
        pq_reconstruct,
        pq_topk,
    )
    from chinook_music_database_analysis_spark.sources import load_tables

    from conftest import SF_TEST_DIR

    emb = load_tables(spark, SF_TEST_DIR)["embeddings"]
    n = emb.count()
    books = pq_codebooks(emb, n)
    assert books.select("m").distinct().count() == PQ_M
    assert books.select(F.size("c_emb")).distinct().collect()[0][0] == PQ_DSUB
    codes = pq_encode(emb, books)
    assert codes.count() == n * PQ_M
    again = pq_encode(emb, books)
    assert codes.exceptAll(again).count() == 0 and again.exceptAll(codes).count() == 0
    recon = pq_reconstruct(codes, books)
    assert recon.select(F.size("recon")).distinct().collect()[0][0] == PQ_M * PQ_DSUB

    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, 10, 5).collect()}
    rr = {(r.query_id, r.neighbor_id) for r in pq_topk(emb, recon, 10, 5).collect()}
    assert len(exact & rr) / len(exact) >= 0.6, len(exact & rr) / len(exact)

    # IVF-PQ is PROBE-LIMITED (n_probe of ~sqrt(N) cells): on this
    # structureless random corpus true neighbors spread uniformly
    # across cells, so probing caps recall well below plain PQ's full
    # ADC sweep — the clustered-corpus ladder (where probing is the
    # right trade) is asserted in scripts/scalecheck.py instead.
    cents = kmeans_centroids(emb, n)
    iv_recon = ivfpq_reconstruct(emb, cents, n)
    iv = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(emb, cents, iv_recon, 10, 5).collect()
    }
    assert len(exact & iv) / len(exact) >= 0.3, len(exact & iv) / len(exact)


def test_scalecheck_probe_names_exist_in_registry():
    """Every name in scripts/scalecheck.py's bound table and WARM_FIRST
    set must be a registered query — a typo'd probe name would silently
    never run (the probe loop just skips unknown names), eroding the
    'every family has a measured 10x bound' claim."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "scalecheck_under_test", os.path.join(repo, "scripts", "scalecheck.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    from chinook_music_database_analysis_spark.plans import QUERIES

    assert [n for n in m.QUERIES if n not in QUERIES] == []
    assert [n for n in m.WARM_FIRST if n not in m.QUERIES] == []
