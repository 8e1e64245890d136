"""The on-disk index store: corpus-versioned relations kept beside the engine.

The expensive index relations (k-means centroids, PQ codebooks, encoded
reconstructions, LSH buckets, shingle/band/signature tables, the
z-ordered fact layout, converged PageRank ranks) are deterministic
functions of the corpus, so they are paid ONCE PER CORPUS VERSION, not
per session: the first session to need one trains it and writes it
under ``ROOT`` as a parquet directory; every later session — including
a brand-new JVM (the "cold" path of bench.py) — loads it back.

Staleness guard: each store directory carries the fingerprint of the
corpus it was trained on (:func:`corpus_fp`) plus the governing
constants of its build.  A mismatch falls back to retrain-and-replace,
so a stale store can never serve wrong results — the oracle retrains
from the live corpus unconditionally, and the hash compare would catch
any divergence.  Writes go to a staging dir and are ``os.rename``-
swapped in, so a crashed write can't leave a half-store with a valid
fingerprint.

At 100 TB the analog is the index table a production ANN deployment
versions beside the corpus (FAISS index files / a bucketed warehouse
table); the fingerprint is the corpus snapshot id.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .cache import depends_on, memo, table_files

#: Root of every corpus's store directory (a deployment path).
ROOT = os.environ.get(
    "SPARK_GRAFT_INDEX_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".index"),
)

#: kind -> "load" | "train", recorded by :func:`persisted` for every
#: store access in this process: the bench reads this to report which
#: index relations were served pre-baked from disk ("load") vs trained
#: inside the measured run ("train").  "train" wins over "load" — a kind
#: that trained at least once in the run was PAID in the run.
STORE_EVENTS: dict[str, str] = {}


def _store_event(kind: str, event: str) -> None:
    if event == "train" or STORE_EVENTS.get(kind) != "train":
        STORE_EVENTS[kind] = event


def store_dir(sf_dir: str) -> str:
    """The directory holding every store kind trained on ``sf_dir``."""
    return os.path.join(ROOT, re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir).strip("_"))


def _tail_probe(p: str, size: int) -> str:
    # Hash a footer-proportional slice without a Spark job: a parquet
    # file ends with [thrift footer][4-byte footer len]["PAR1"].  Hash
    # the LAST min(4 KiB, footer_len + 8) bytes, and — when the footer
    # exceeds that tail slice — ALSO the FIRST 4 KiB of the footer
    # region: in many-row-group files the differing row-group
    # statistics can sit entirely at the head of the footer, which a
    # tail-only probe never reads.  A same-size, same-mtime rewrite
    # with different contents has to collide on the footer statistics
    # themselves to go undetected.  Files too small / non-parquet hash
    # their last 16 bytes.
    with open(p, "rb") as fh:
        h = hashlib.md5()
        n = 16
        head_start = None
        if size >= 8:
            fh.seek(size - 8)
            trailer = fh.read(8)
            if trailer[4:] == b"PAR1":
                footer_len = int.from_bytes(trailer[:4], "little")
                n = min(4096, footer_len + 8, size)
                if footer_len + 8 > n:
                    head_start = max(0, size - 8 - footer_len)
        if head_start is not None:
            fh.seek(head_start)
            h.update(fh.read(min(4096, size - head_start)))
        fh.seek(max(0, size - n))
        h.update(fh.read(n))
        return h.hexdigest()


def corpus_fp(
    spark: SparkSession, sf_dir: str, table: str | tuple[str, ...] = "embeddings"
) -> str:
    """Corpus fingerprint: md5 over the tables' file manifest
    (:func:`cache.table_files` — the same entries the session cache's
    snapshot stats) — the snapshot id a production table format
    (Delta/Iceberg) would hand us, with NO Spark job.

    Each file also contributes a TAIL PROBE of its parquet footer:
    mtime-preserving tooling (``rsync -a`` / ``cp -p`` restores of a
    different corpus version) keeps both size and mtime_ns, but not the
    footer statistics, so the probe is the cross-process guard the stat
    signature alone cannot give.  A spurious mismatch (touch without
    change) merely retrains — never serves stale."""
    tables = (table,) if isinstance(table, str) else tuple(table)

    def manifest_md5() -> str:
        h = hashlib.md5()
        for t in tables:
            root = os.path.join(sf_dir, f"{t}.parquet")
            for rel, size, mtime_ns in table_files(root):
                probe = _tail_probe(os.path.join(root, rel) if rel else root, size)
                h.update(f"{t}/{rel}|{size}|{mtime_ns}|{probe}\n".encode())
        return h.hexdigest()

    return memo("fp:" + "|".join(tables), spark, sf_dir, manifest_md5)


def _gc_staging(d: str) -> None:
    """Reclaim stale staging siblings of ``d``: a build killed mid-write
    would otherwise orphan its unique d.tmp.<pid>.<rand> directory
    forever.  Reclaim when the owning pid is gone; age out (>1 day) when
    the name doesn't parse or liveness can't be checked."""
    for stale in glob.glob(f"{d}.tmp.*"):
        try:
            pid = int(stale[len(d) + 5:].split(".", 1)[0])
            if pid == os.getpid():
                continue
            os.kill(pid, 0)  # raises if the owner is gone
        except PermissionError:
            # EPERM from kill(pid, 0) means the pid EXISTS (e.g.
            # another user's build) — the owner is alive, never
            # reclaim its in-progress staging dir
            continue
        except (ValueError, IndexError):
            # unparseable name — liveness unknowable; age out >1 day
            try:
                if time.time() - os.path.getmtime(stale) < 86400:
                    continue
            except OSError:
                pass
            shutil.rmtree(stale, ignore_errors=True)
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)


def _write_parquet(df: DataFrame, path: str) -> None:
    # Natural partitioning: index relations range from ~sqrt(N) rows
    # (centroids, codebooks) to N rows (reconstructions) — no
    # driver-side coalesce, the writer parallelism scales with the
    # relation.
    df.write.mode("overwrite").parquet(path)


def persisted(
    kind: str,
    spark: SparkSession,
    sf_dir: str,
    build,
    table: str | tuple[str, ...] = "embeddings",
    writer=None,
    params: str = "",
    cache: bool = True,
) -> DataFrame:
    """Session-memoized relation backed by the on-disk index store: load
    when the fingerprint matches, else train and swap in, then serve the
    read-back.

    ``params`` names the GOVERNING CONSTANTS of the build (banding knobs,
    df caps, shingle k, damping...) and is mixed into the stored
    fingerprint: corpus bytes alone can't see a code change, so a knob
    edit invalidates exactly the stores it governs.  Call sites pass a
    stable human-readable string (e.g. ``"k=8,cap=4"``).

    Training writes ``build()`` straight into a staging dir with
    ``writer(df, path)`` (a plain parquet write by default; layout stores
    pass their partitioned/z-ordered rewrite) — the write job is the
    build's single execution — and swaps it in with ``os.rename``.  The
    build session then serves the read-back too, not the build lineage:
    an iterative trainer's lineage is hundreds of logical nodes (k-means /
    PQ unroll) that every consumer query would re-pay Catalyst analysis
    over, while the read-back is a one-scan plan over the same rows.  A
    swap lost to another writer with the same fingerprint serves the
    winner's store; any other failure (store unwritable, still stale)
    serves the in-session build.

    ``cache`` decides whether the served relation is memo-persisted.
    ``cache=False`` leaves consumers scanning the store files directly,
    for stores whose scan-level pruning is the point: the BM25 postings
    term filter over term-clustered row groups, a partitioned layout's
    directory pruning — an InMemoryRelation would materialize the FULL
    relation and filter per cache batch instead.
    """
    def load_or_build() -> DataFrame:
        fp = corpus_fp(spark, sf_dir, table)
        if params:
            fp = f"{fp}|{params}"
        d = os.path.join(store_dir(sf_dir), kind)
        fp_file = os.path.join(d, "_FINGERPRINT")

        def stored() -> DataFrame | None:
            """The store's read-back when it holds ``fp``, else None."""
            try:
                with open(fp_file) as fh:
                    if fh.read().strip() == fp:
                        depends_on(fp_file)
                        return spark.read.parquet(os.path.join(d, "data"))
            except Exception:
                pass  # missing or unreadable store
            return None

        df = stored()
        if df is not None:
            _store_event(kind, "load")
            return df
        _store_event(kind, "train")
        _gc_staging(d)
        # Unique per process+attempt, so two concurrent sessions
        # building the same store can't rmtree each other's staging dir.
        tmp = f"{d}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        try:
            (writer or _write_parquet)(build(), os.path.join(tmp, "data"))
            with open(os.path.join(tmp, "_FINGERPRINT"), "w") as fh:
                fh.write(fp)
            shutil.rmtree(d, ignore_errors=True)
            os.rename(tmp, d)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
        # Our swapped-in store, or the winner's after a swap lost to a
        # writer with the same fingerprint; else the in-session build.
        df = stored()
        return df if df is not None else build()

    return memo(kind, spark, sf_dir, load_or_build, persist=cache)
