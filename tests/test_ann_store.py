"""The on-disk index store (``store.persisted``): fingerprint guard,
staging-dir GC, concurrent-writer fallback — plus the ANN operators'
recall, hot-corpus and PCA-drift checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from chinook_music_database_analysis_spark import cache, store
from chinook_music_database_analysis_spark.cache import invalidate
from chinook_music_database_analysis_spark.operators.similarity import (
    embedding_near_dup_pairs,
    lsh_n_bits,
    lsh_topk,
)

from conftest import SF_TEST_DIR


def _pairs_set(df):
    return {(r.vec_a, r.vec_b, r.cos_sim) for r in df.collect()}


def test_index_store_fingerprint_guard(spark, tmp_path, monkeypatch):
    """The on-disk index store (store.persisted) must
    (a) serve later sessions from disk — proven by doctoring the stored
    relation and observing the doctored row count — and (b) refuse a
    store whose corpus fingerprint mismatches, retraining instead (the
    staleness guard that makes a regenerated test corpus safe)."""
    import glob
    import os

    from chinook_music_database_analysis_spark.plans import extensions as ext

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    invalidate(SF_TEST_DIR)
    try:
        full = ext._ivf_cents(spark, SF_TEST_DIR)
        n_full = full.count()
        assert n_full > 0
        d = glob.glob(str(tmp_path / "*" / "ivf_cents"))[0]

        # Doctor the stored relation (drop one row), keep the
        # fingerprint: a fresh "session" (memo reset) must read the
        # doctored store — proving the load path serves from disk.
        doctored = spark.read.parquet(os.path.join(d, "data")).limit(n_full - 1)
        doctored.write.mode("overwrite").parquet(os.path.join(d, "data.new"))
        import shutil

        shutil.rmtree(os.path.join(d, "data"))
        os.rename(os.path.join(d, "data.new"), os.path.join(d, "data"))
        invalidate(SF_TEST_DIR)
        assert ext._ivf_cents(spark, SF_TEST_DIR).count() == n_full - 1

        # Invalidate the fingerprint: the loader must retrain (full
        # cardinality restored) and replace the store.
        with open(os.path.join(d, "_FINGERPRINT"), "w") as fh:
            fh.write("stale")
        invalidate(SF_TEST_DIR)
        assert ext._ivf_cents(spark, SF_TEST_DIR).count() == n_full
        assert open(os.path.join(d, "_FINGERPRINT")).read().strip() != "stale"
    finally:
        invalidate(SF_TEST_DIR)


def test_fp_memo_evicted_on_reset_and_retrain_after_regen(spark, tmp_path, monkeypatch):
    """The corpus-fingerprint memo must live in the session cache under
    sf_dir so invalidate(sf_dir) evicts it — otherwise an in-session
    corpus regeneration followed by the documented invalidate()
    re-mount keeps serving the OLD fingerprint, which
    still matches the old store's _FINGERPRINT, and store.persisted
    silently serves an index trained on the replaced corpus."""
    import shutil

    from chinook_music_database_analysis_spark.plans import extensions as ext

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    sf_dir = str(corpus)
    emb = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
    n_all = emb.count()
    emb.limit(n_all - 10).write.parquet(f"{sf_dir}/embeddings.parquet")

    monkeypatch.setattr(store, "ROOT", str(tmp_path / "idx"))
    invalidate(sf_dir)
    try:
        fp1 = store.corpus_fp(spark, sf_dir)
        assert any(k[2] == sf_dir and str(k[0]).startswith("fp:")
                   for k in cache._ENTRIES), "fp key not sf_dir-evictable"
        ext._ivf_cents(spark, sf_dir)

        # Regenerate the corpus in place (different contents), re-mount.
        shutil.rmtree(f"{sf_dir}/embeddings.parquet")
        emb.limit(n_all - 3).write.parquet(f"{sf_dir}/embeddings.parquet")
        invalidate(sf_dir)
        assert not any(k[2] == sf_dir for k in cache._ENTRIES)

        fp2 = store.corpus_fp(spark, sf_dir)
        assert fp2 != fp1, "fingerprint did not track the regenerated corpus"
        # And the store retrains rather than serving the stale index:
        # the persisted fingerprint now matches the NEW corpus.
        ext._ivf_cents(spark, sf_dir)
        import glob

        fps = glob.glob(str(tmp_path / "idx" / "*" / "ivf_cents" / "_FINGERPRINT"))
        # stored form is "<corpus_fp>|<params>" since r7 (governing
        # constants are mixed in); the corpus half must track fp2
        assert fps and open(fps[0]).read().strip().split("|", 1)[0] == fp2
    finally:
        invalidate(sf_dir)


def test_stale_staging_dirs_reclaimed(spark, tmp_path, monkeypatch):
    """A build killed mid-write leaves its unique d.tmp.<pid>.<rand>
    staging dir behind; the next build for that store must GC siblings
    whose owning pid is dead (r5 review) while leaving a live-pid
    sibling and an unparseable-but-recent one alone."""
    import glob
    import os
    import subprocess

    from chinook_music_database_analysis_spark.plans import extensions as ext

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    invalidate(SF_TEST_DIR)
    try:
        d = os.path.join(store.store_dir(SF_TEST_DIR), "ivf_cents")
        os.makedirs(os.path.dirname(d), exist_ok=True)
        proc = subprocess.Popen(["true"])  # a pid guaranteed dead
        proc.wait()
        dead = f"{d}.tmp.{proc.pid}.aaaaaaaa"
        live = f"{d}.tmp.{os.getpid()}.bbbbbbbb"
        odd = f"{d}.tmp.unparseable"
        for p in (dead, live, odd):
            os.makedirs(p, exist_ok=True)

        ext._ivf_cents(spark, SF_TEST_DIR).count()  # triggers a build
        left = set(glob.glob(f"{d}.tmp.*"))
        assert dead not in left, "dead-pid staging dir not reclaimed"
        assert live in left, "live-pid staging dir must survive"
        assert odd in left, "recent unparseable staging dir must survive"
        for p in (live, odd):
            os.rmdir(p)
    finally:
        invalidate(SF_TEST_DIR)


def test_fingerprint_sees_footer_content(tmp_path):
    """Two parquet rewrites with identical path/size/mtime but
    different values must fingerprint differently: the tail probe
    hashes a footer-length-proportional slice, and parquet footers
    carry column statistics (min/max) that differ with the data (r5
    review hardening — the old fixed-16-byte probe could collide on
    writer-constant thrift tail fields)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    class _FakeSpark:  # the fingerprint reads files only; no session needed
        pass

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    f = str(corpus / "documents.parquet")

    def write(vals):
        pq.write_table(pa.table({"doc_id": pa.array(vals, pa.int64())}), f)

    write([1, 2, 3, 4])
    st = os.stat(f)
    fp1 = store.corpus_fp(_FakeSpark(), str(corpus), "documents")
    invalidate(str(corpus))
    write([1, 2, 3, 9])  # same schema/rowcount/writer -> same size
    assert os.path.getsize(f) == st.st_size, "fixture requires equal sizes"
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))  # mtime-preserving restore
    fp2 = store.corpus_fp(_FakeSpark(), str(corpus), "documents")
    assert fp1 != fp2


def test_fingerprint_probes_footer_head_region(tmp_path):
    """Many-row-group files have footers larger than the 4 KiB tail
    slice; statistics for early row groups then sit entirely OUTSIDE
    the tail.  The r7 probe hashes the FIRST 4 KiB of the footer
    region too, so a same-size mtime-preserving rewrite that only
    changes an early row group's data/statistics must still change the
    fingerprint (r6 review: the old probe read only a footer SUFFIX)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    class _FakeSpark:
        pass

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    f = str(corpus / "documents.parquet")

    def write(swap):
        # swapping a value across row groups 0 and 1 changes both
        # groups' min/max statistics (head of the footer) while the
        # value multiset — and thus the encoded size — stays identical
        vals = list(range(3000))
        if swap:
            vals[0], vals[5] = vals[5], vals[0]
        pq.write_table(
            pa.table({"doc_id": pa.array(vals, pa.int64())}), f, row_group_size=5
        )

    write(False)
    # precondition: the footer really is bigger than the tail slice
    with open(f, "rb") as fh:
        fh.seek(os.path.getsize(f) - 8)
        trailer = fh.read(8)
    assert trailer[4:] == b"PAR1"
    footer_len = int.from_bytes(trailer[:4], "little")
    assert footer_len + 8 > 4096, "fixture must exceed the 4 KiB tail slice"

    st = os.stat(f)
    fp1 = store.corpus_fp(_FakeSpark(), str(corpus), "documents")
    invalidate(str(corpus))
    write(True)  # only early row groups' head-of-footer stats change
    assert os.path.getsize(f) == st.st_size, "fixture requires equal sizes"
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    fp2 = store.corpus_fp(_FakeSpark(), str(corpus), "documents")
    assert fp1 != fp2


def test_eperm_staging_dir_never_reclaimed(spark, tmp_path, monkeypatch):
    """PermissionError from kill(pid, 0) means the pid EXISTS (another
    user's live build) — its staging dir must survive GC even when
    older than the 1-day age-out that applies to unparseable names
    (r6 review: EPERM was previously lumped with 'liveness unknown')."""
    import os
    import time

    from chinook_music_database_analysis_spark.plans import extensions as ext

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    invalidate(SF_TEST_DIR)
    real_kill = os.kill
    eperm_pid = 999999 + os.getpid()  # never a real pid we own

    def fake_kill(pid, sig):
        if pid == eperm_pid:
            raise PermissionError("operation not permitted")
        return real_kill(pid, sig)

    monkeypatch.setattr(store.os, "kill", fake_kill)
    try:
        d = os.path.join(store.store_dir(SF_TEST_DIR), "ivf_cents")
        os.makedirs(os.path.dirname(d), exist_ok=True)
        eperm = f"{d}.tmp.{eperm_pid}.cccccccc"
        old_odd = f"{d}.tmp.unparseable_old"
        os.makedirs(eperm)
        os.makedirs(old_odd)
        two_days_ago = time.time() - 2 * 86400
        os.utime(eperm, (two_days_ago, two_days_ago))
        os.utime(old_odd, (two_days_ago, two_days_ago))

        ext._ivf_cents(spark, SF_TEST_DIR).count()  # triggers GC + build
        assert os.path.isdir(eperm), "EPERM (live foreign) staging dir reclaimed"
        assert not os.path.isdir(old_odd), "aged unparseable dir must be GC'd"
        os.rmdir(eperm)
    finally:
        invalidate(SF_TEST_DIR)


def test_store_params_mismatch_invalidates(spark, tmp_path, monkeypatch):
    """Governing constants are mixed into the stored fingerprint via
    ``params``: the same corpus with a different params string must
    retrain instead of serving the stale store (r6 review — a knob
    edit is invisible to corpus-byte fingerprints)."""

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    builds = []

    def make_build(tagval):
        def build():
            builds.append(tagval)
            return spark.range(3).select(F.col("id").alias("x"))

        return build

    try:
        invalidate(SF_TEST_DIR)
        store.persisted(
            "params_probe", spark, SF_TEST_DIR, make_build("a"),
            table="documents", params="k=1",
        ).count()
        assert builds == ["a"]
        # same params, fresh session-memo: served from the store
        invalidate(SF_TEST_DIR)
        store.persisted(
            "params_probe", spark, SF_TEST_DIR, make_build("a2"),
            table="documents", params="k=1",
        ).count()
        assert builds == ["a"], "matching params must hit the store"
        # changed params: must rebuild
        invalidate(SF_TEST_DIR)
        store.persisted(
            "params_probe", spark, SF_TEST_DIR, make_build("b"),
            table="documents", params="k=2",
        ).count()
        assert builds == ["a", "b"], "changed params must invalidate the store"
    finally:
        invalidate(SF_TEST_DIR)


def test_mrl_recall_floor_and_shortlist_bound(spark):
    """Matryoshka retrieval must (a) hold recall@5 >= 0.8 against the
    exact scan at the registered parameters, and (b) keep its coarse
    shortlist at exactly MRL_SHORTLIST rows per query — the bound that
    makes the full-vector rerank |q| x shortlist however large the
    corpus is."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.operators.similarity import (
        MRL_SHORTLIST,
        cosine_topk,
        mrl_topk,
    )

    emb = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
    exact: dict[int, set[int]] = {}
    for r in cosine_topk(emb).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx: dict[int, set[int]] = {}
    for r in mrl_topk(emb, n_corpus=emb.count()).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    per_q = [
        len(approx.get(q, set()) & exact[q]) / len(exact[q]) for q in exact
    ]
    assert sum(per_q) / len(per_q) >= 0.8
    # rerank cost bound: every query's shortlist is capped, and with
    # n_corpus > shortlist it is exactly MRL_SHORTLIST candidates
    n = emb.count()
    wide = mrl_topk(emb, n_corpus=emb.count(), k=MRL_SHORTLIST)
    sizes = wide.groupBy("query_id").count().collect()
    cap = min(MRL_SHORTLIST, n - 1)
    assert all(r["count"] <= cap for r in sizes)
    if n - 1 > MRL_SHORTLIST:
        assert all(r["count"] == MRL_SHORTLIST for r in sizes)


def test_ivf_append_audit_is_not_degenerate(spark):
    """Guard against the silent-empty failure mode the residue choice
    exists for (appended set aligned with the k-means stride sample
    empties the centroids and BOTH engines agree on zero rows): the
    audit must cover every cell-assigned vector, see both populations,
    and the appended share must be ~20% overall."""
    from pyspark.sql import functions as F

    from chinook_music_database_analysis_spark.plans import QUERIES

    out = QUERIES["sim_ivf_append"](spark, SF_TEST_DIR)
    rows = out.collect()
    assert rows, "audit returned no cells"
    n_base = sum(r.n_base for r in rows)
    n_app = sum(r.n_appended for r in rows)
    n = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet").count()
    assert n_base + n_app == n
    assert abs(n_app / n - 0.2) < 0.02


def test_pair_window_cap_complete_on_benign_buckets(spark):
    """r9 occupancy cap (the knn_graph pattern applied to the near-dup
    pair sweep): on buckets with occupancy <= PAIR_WINDOW + 1 the
    capped candidate set IS the full bucket self-join's, so the driver
    corpus loses nothing; and on a pathological one-cluster corpus the
    candidate count respects the N*window*tables bound instead of
    going occupancy^2."""
    from chinook_music_database_analysis_spark.operators.similarity import (
        N_TABLES,
        _bucket_windowed_pairs,
        lsh_buckets,
        with_norms,
    )

    emb = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
    n_bits = lsh_n_bits(emb.count())
    bk, wn = lsh_buckets(emb, n_bits), with_norms(emb)
    capped = embedding_near_dup_pairs(bk, wn)
    # window >= corpus size == the uncapped full self-join
    full = embedding_near_dup_pairs(bk, wn, window=10**6)
    assert _pairs_set(capped) == _pairs_set(full)

    # pathological: every vector in ONE bucket per table (identical
    # embeddings) -> full join would be N^2/2 pairs; the window keeps
    # candidates <= N * window * tables.
    n, window = 200, 16
    hot = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 8), i -> CAST(1.0 AS FLOAT))").alias(
            "embedding"
        ),
    )
    cand = _bucket_windowed_pairs(lsh_buckets(hot, 4), window)
    n_cand = cand.count()
    assert n_cand <= n * window * N_TABLES
    assert n_cand < n * (n - 1) // 2  # strictly below the self-join


def test_bucket_windowed_directed_matches_sequence_join(spark):
    """The sliding successor window emits exactly the directed pair
    multiset of the positional self-join reference (row_number, explode
    of pos+1..pos+window, equi-join back on (tbl, bucket, pos)) on
    buckets whose occupancy is above, equal to and below the window,
    and with a window larger than every bucket."""
    from pyspark.sql import Window

    from chinook_music_database_analysis_spark.operators.similarity import (
        _bucket_windowed_directed,
    )

    window = 4
    rows = (
        [(v, 0, 7) for v in range(window + 3)]  # occupancy > window
        + [(v, 0, 8) for v in range(10, 10 + window)]  # == window
        + [(v, 0, 9) for v in range(20, 22)]  # < window
        + [(v, 1, v % 2) for v in range(30)]  # second table, mixed ids
    )
    buckets = spark.createDataFrame(rows, "vec_id long, tbl int, bucket long")

    def reference(w: int):
        key = F.md5(F.concat_ws(":", "tbl", "vec_id"))
        posed = buckets.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("tbl", "bucket").orderBy(key, F.col("vec_id"))
            ),
        )
        lhs = posed.select(
            "tbl",
            "bucket",
            F.col("vec_id").alias("va"),
            F.explode(F.sequence(F.col("pos") + 1, F.col("pos") + w)).alias("pos"),
        )
        rhs = posed.select("tbl", "bucket", "pos", F.col("vec_id").alias("vb"))
        return lhs.join(rhs, ["tbl", "bucket", "pos"]).select("va", "vb")

    for w in (window, 10**6):
        got = sorted(_bucket_windowed_directed(buckets, w).collect())
        assert got == sorted(reference(w).collect()), w
        # each member pairs with min(window, its successors) mates
        assert len(got) == sum(
            min(w, m - 1 - i) for m in (7, 4, 2, 15, 15) for i in range(m)
        ), w


def test_pca_power_model_matches_numpy(spark):
    """The quantize-then-power-iterate eigensolve must agree with
    numpy's exact eigendecomposition OF THE SAME quantized matrix:
    top-2 eigenvalues within 1e-3 relative (12 power steps on a
    decaying spectrum) and loadings aligned up to sign
    (|cos| > 0.995).  This is the 'is it actually PCA' check the
    cross-engine hash-match can't give."""
    import numpy as np

    from chinook_music_database_analysis_spark.operators.similarity import (
        EMB_DIM,
        embedding_moment_partials,
        pca_power_model,
    )

    emb = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
    parts = [
        (r["n"], r["s"], r["ss"])
        for r in embedding_moment_partials(emb).collect()
    ]
    model = pca_power_model(parts)
    C = np.array(model["m_q"]).reshape(EMB_DIM, EMB_DIM)
    assert np.allclose(C, C.T)  # symmetrized before quantization
    evals, evecs = np.linalg.eigh(C)
    lam_np = evals[::-1][:2]
    v_np = evecs[:, ::-1][:, :2]
    for k, (lam, v) in enumerate(model["comps"]):
        assert abs(lam - lam_np[k]) <= 1e-3 * abs(lam_np[k]), (k, lam, lam_np[k])
        cos = abs(float(np.dot(np.array(v), v_np[:, k])))
        assert cos > 0.995, (k, cos)
    assert model["comps"][0][0] >= model["comps"][1][0] > 0
    # trace bounds the spectrum: explained shares in (0, 1] and ordered
    e1 = model["comps"][0][0] / model["trace_q"]
    e2 = model["comps"][1][0] / model["trace_q"]
    assert 0 < e2 <= e1 <= 1.0


def test_pca_moment_partials_are_batch_independent(spark):
    """Combining the Arrow-batch partials must give the same model
    whatever the partitioning: 1-partition and 8-partition corpora
    yield identical quantized covariance and eigenpairs (the
    quantization grid absorbs the different partial-sum
    associations)."""
    from chinook_music_database_analysis_spark.operators.similarity import (
        embedding_moment_partials,
        pca_power_model,
    )

    emb = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
    models = []
    for parts_df in (
        embedding_moment_partials(emb.coalesce(1)),
        embedding_moment_partials(emb.repartition(8)),
    ):
        parts = [(r["n"], r["s"], r["ss"]) for r in parts_df.collect()]
        models.append(pca_power_model(parts))
    a, b = models
    assert a["m_q"] == b["m_q"]
    assert a["mu_q"] == b["mu_q"]
    assert [c[0] for c in a["comps"]] == [c[0] for c in b["comps"]]
    assert [c[1] for c in a["comps"]] == [c[1] for c in b["comps"]]


def test_pca_drift_stable_on_anisotropic_append(spark):
    """On a corpus with one dominant direction, appending 25% more
    vectors FROM THE SAME distribution must leave the principal axis
    aligned (|cos| ~ 1) and the mean near-unmoved — the no-drift
    baseline the sim_pca_drift monitor alerts against.  Built from a
    deterministic expression corpus (dim 3 carries 10x the variance)."""
    import math

    from chinook_music_database_analysis_spark.operators.similarity import (
        _fold,
        embedding_moment_partials,
        pca_power_model,
    )

    def corpus(n):
        # pseudo-random but deterministic: sin-hash amplitude, dim 3
        # scaled 10x -> dominant direction is e3 on any slice
        return spark.range(n).selectExpr(
            "id AS vec_id",
            "transform(sequence(1, 64), j -> CAST("
            " CASE WHEN j = 3 THEN 10.0 ELSE 1.0 END"
            " * sin(CAST(id * 64 + j AS DOUBLE))"
            " AS FLOAT)) AS embedding",
        )

    def model(df):
        parts = [
            (r["n"], r["s"], r["ss"])
            for r in embedding_moment_partials(df).collect()
        ]
        return pca_power_model(parts)

    base, full = model(corpus(160)), model(corpus(200))
    (_, vb), (_, vf) = base["comps"][0], full["comps"][0]
    cos = abs(_fold([vb[i] * vf[i] for i in range(64)]))
    assert cos > 0.999, cos
    # the dominant loading is dim 3 on both
    assert max(range(64), key=lambda i: abs(vb[i])) == 2
    assert max(range(64), key=lambda i: abs(vf[i])) == 2
    shift = math.sqrt(
        _fold(
            [
                (full["mu_q"][i] - base["mu_q"][i]) ** 2
                for i in range(64)
            ]
        )
    )
    assert shift < 0.5  # centroid essentially unmoved vs 10x-var axis


def test_router_dual_route_oracle_gate(spark, tmp_path):
    """The banded LSH probe is the only path of lsh_topk and
    range_search, and the registry's embeddings are near-orthogonal,
    so its oracle gate never sees a clustered corpus.  This covers
    that input: on a synthetic one-cluster corpus whose query buckets
    hold most of the corpus, both operators must match the REGISTERED
    oracle SQL verbatim, row/schema/value-exact through the same
    compare the oracle-parity test runs."""
    import duckdb

    from chinook_music_database_analysis_spark.operators.similarity import (
        _bucket_probe_candidates,
        lsh_buckets,
        range_search,
        with_norms,
    )
    from chinook_music_database_analysis_spark.plans import ORACLES

    from conftest import assert_frames_match

    n, n_q = 150, 10
    hot = spark.range(n).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 64), j -> CAST("
        " 1.0 + 0.0005 * sin(CAST(id * 64 + j AS DOUBLE)) AS FLOAT)) AS embedding",
        "CAST(id % 3 AS INT) AS label",
    )
    path = str(tmp_path / "embeddings.parquet")
    hot.coalesce(1).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path)
    bk, wn = lsh_buckets(emb, lsh_n_bits(emb.count())), with_norms(emb)
    # the corpus must actually be hot (the probe reaches at least half
    # of |q| x N), or this gate proves nothing the registry doesn't
    n_cand = _bucket_probe_candidates(bk).count()
    assert n_cand >= 0.5 * n_q * n, n_cand

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'"
        )
        cases = [
            ("lsh_topk", lsh_topk(bk, wn), ORACLES["sim_lsh_topk"]),
            ("range_search", range_search(bk, wn), ORACLES["sim_range_search"]),
        ]
        for name, df, sql in cases:
            assert_frames_match(df.toPandas(), con.sql(sql).df(), name)
    finally:
        con.close()


def test_pca_power_model_method_routing():
    """Dims above PCA_FOLD_MAX_DIM run the BLAS eigensolve (the
    exact-fold contract path costs minutes of interpreted Python at
    d=2048 and no oracle exists there); at oracle dims the two paths
    must agree on the quantized covariance BIT-FOR-BIT and on
    eigenvalues to float precision, so the dim cutover can never move
    a registered query's result."""
    import numpy as np

    from chinook_music_database_analysis_spark.operators.similarity import (
        PCA_FOLD_MAX_DIM,
        _pca_power_model_np,
        pca_power_model,
    )

    rng = np.random.default_rng(7)
    d = 64
    # 12 partials, not 3: numpy pairwise summation degenerates to the
    # sequential fold below ~8 addends, so a small partial count can't
    # catch an association mismatch in the BLAS twin's s/ss accumulate.
    parts = []
    for _ in range(12):
        X = rng.normal(size=(200, d))
        X[:, 0] *= 4.0
        parts.append((200, X.sum(axis=0).tolist(), (X.T @ X).ravel().tolist()))
    fold = pca_power_model(parts, dim=d)  # d=64 <= cap -> fold path
    blas = _pca_power_model_np(parts, d)
    assert fold["m_q"] == blas["m_q"]
    assert fold["mu_q"] == blas["mu_q"]
    assert fold["trace_q"] == blas["trace_q"]
    for (lf, _), (lb, _) in zip(fold["comps"], blas["comps"]):
        assert abs(lf - lb) <= 1e-12 * abs(lf)
    assert PCA_FOLD_MAX_DIM == 512  # doc'd cap; probe covers 2048 via numpy


def test_index_store_concurrent_writer_fallback(spark, tmp_path, monkeypatch):
    """Two sessions racing the staged ``os.rename`` swap.  The loser's
    rename hits a non-empty target (the winner just swapped its build
    in) and must (a) serve the WINNER's store when the fingerprints
    agree and (b) fall back to its own in-session build when they
    don't — with the default parquet writer and an explicit one alike
    (one write path).  Simulated by planting a winner store at the
    target between the loser's rmtree and rename — exactly the
    lost-race interleaving."""
    import os
    import shutil

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    invalidate(SF_TEST_DIR)

    emb = spark.read.parquet(f"{SF_TEST_DIR}/embeddings.parquet")
    loser_build = lambda: emb.select("vec_id").limit(20)  # noqa: E731
    fp = store.corpus_fp(spark, SF_TEST_DIR)  # default table="embeddings"

    # Pre-materialize the winner's store payload (7 rows — count is the
    # tell for WHOSE relation got served).
    winner_side = tmp_path / "winner_payload"
    emb.select("vec_id").limit(7).write.parquet(str(winner_side / "data"))

    real_rename = os.rename
    state = {}

    def losing_rename(src, dst, *a, **kw):
        # Intercept ONLY the loser's final swap for the kind under
        # test (Spark's own output committer also renames — those pass
        # through untouched), and only once per case.
        if (
            os.path.basename(dst) == state.get("kind")
            and f"{state['kind']}.tmp." in src
            and not state.get("planted")
        ):
            state["planted"] = True
            shutil.copytree(winner_side, dst)
            with open(os.path.join(dst, "_FINGERPRINT"), "w") as fh:
                fh.write(state["winner_fp"])
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(store.os, "rename", losing_rename)
    pq_writer = lambda df, path: df.write.mode("overwrite").parquet(path)  # noqa: E731

    def run(kind, winner_fp, writer):
        state.update(kind=kind, winner_fp=winner_fp, planted=False)
        got = store.persisted(
            kind, spark, SF_TEST_DIR, loser_build, writer=writer
        )
        assert state["planted"], "race never triggered"
        return got

    for tag, writer in (("default", None), ("writer", pq_writer)):
        # (a) fingerprints agree -> the winner's store serves.
        assert run(f"race_{tag}_same", fp, writer).count() == 7, tag
        # (b) fingerprint mismatch -> the loser's own build serves...
        assert run(f"race_{tag}_diff", "someone-elses-corpus", writer).count() == 20, tag
        # ...and the mismatched winner store stays on disk untouched
        # (the next session with the matching corpus replaces it
        # through the normal path).
        d_diff = next(tmp_path.glob(f"*/race_{tag}_diff"))
        assert open(d_diff / "_FINGERPRINT").read() == "someone-elses-corpus"
    invalidate(SF_TEST_DIR)


def test_store_events_shared_with_extensions():
    """perfbench/run.py reads STORE_EVENTS from plans.extensions: that
    name must stay the store's own dict, not a copy."""
    from chinook_music_database_analysis_spark.plans import extensions

    assert extensions.STORE_EVENTS is store.STORE_EVENTS
