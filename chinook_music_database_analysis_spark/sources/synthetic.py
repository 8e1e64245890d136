"""Custom Python Data Source (Spark 4 connector API): deterministic
synthetic events.

The engine's file readers cover Parquet/ORC/CSV/JSON/JDBC; this module
exercises the remaining connector surface — ``pyspark.sql.datasource``,
the pure-Python DataSource V2 binding — with a generator source that
needs no external system: ``spark.read.format("synthevents")`` yields
a deterministic events relation sized by options.

Shape at scale: the source reports ``n_partitions`` input partitions
and each executor generates ONLY its partition's rows (seeded by
(seed, partition), no driver materialization, no skew — rows are
dealt round-robin-by-construction).  This is the standard pattern for
load-generation and connector smoke tests on a 1000-executor cluster:
data volume scales with the partition count while the driver holds
one integer per partition.

Determinism: a row's content is a pure function of (seed, event_id)
via blake2b — re-reads, repartition-option changes, re-runs, and the
STREAM reader all see identical rows for the same seed, which is what
makes the source usable in correctness tests (batch and stream share
one generator, so batch-vs-stream parity is checkable).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: epoch anchor for generated timestamps (naive UTC, matching the
#: engine's UTC session timezone).
_T0 = _dt.datetime(2024, 1, 1, 0, 0, 0)

SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, value double, ts timestamp"
)


def _h(seed: int, part: int, i: int) -> bytes:
    return hashlib.blake2b(
        f"{seed}|{part}|{i}".encode(), digest_size=16
    ).digest()


#: rows per emitted Arrow batch — bounds executor memory per yield
#: while amortizing the per-batch framework cost.
_ARROW_BATCH_ROWS = 16_384


def _gen_record_batches(seed: int, n_users: int, start: int, count: int):
    """Generate rows [start, start+count) as Arrow RecordBatches.

    Row CONTENT is the unchanged blake2b(seed|0|event_id) contract the
    determinism tests pin — only the delivery changed (r12): yielding
    per-row Python tuples paid ~100us/row in the data-source
    framework's row-at-a-time conversion, which dwarfed the ~1.5us
    hash.  The digests are still computed per row (the contract), then
    every field is extracted VECTORIZED from one byte matrix and
    shipped as pyarrow batches — the framework passes RecordBatches
    through without per-row conversion (measured 8-10k -> >100k
    rows/s on the bench's source micro-bench).
    """
    import numpy as np
    import pyarrow as pa

    etypes = np.array(_EVENT_TYPES)
    t0 = np.datetime64(_T0, "us")
    for lo in range(start, start + count, _ARROW_BATCH_ROWS):
        n = min(_ARROW_BATCH_ROWS, start + count - lo)
        digests = b"".join(_h(seed, 0, rid) for rid in range(lo, lo + n))
        m = np.frombuffer(digests, dtype=np.uint8).reshape(n, 16).astype(np.uint64)

        def be32(o: int):
            return (m[:, o] << 24) | (m[:, o + 1] << 16) | (m[:, o + 2] << 8) | m[:, o + 3]

        user_id = (be32(0) % np.uint64(n_users)).astype(np.int64)
        etype = etypes[(m[:, 4] % np.uint64(len(_EVENT_TYPES))).astype(np.int64)]
        value = (be32(5) % np.uint64(1_000_000)).astype(np.float64) / 100.0
        secs = (be32(9) % np.uint64(86_400_00)).astype("timedelta64[s]")
        ts = (t0 + secs).astype("datetime64[us]")
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.arange(lo, lo + n, dtype=np.int64)),
                pa.array(user_id),
                pa.array(etype),
                pa.array(value),
                pa.array(ts, type=pa.timestamp("us")),
            ],
            names=["event_id", "user_id", "event_type", "value", "ts"],
        )


class SyntheticEventsDataSource(DataSource):
    """``format("synthevents")`` — options: ``n_rows`` (total, default
    1000), ``n_partitions`` (default 4), ``n_users`` (default 100),
    ``seed`` (default 7)."""

    @classmethod
    def name(cls) -> str:
        return "synthevents"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)

    def streamReader(self, schema) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader(self.options)


class _Part(InputPartition):
    def __init__(self, index: int, start: int, count: int):
        self.index = index
        self.start = start
        self.count = count


def _read_partition(reader, partition: _Part) -> Iterator:
    """``read`` of both the batch and the stream reader.  The GLOBAL
    row id seeds the hash (partition 0 in the hash), so a row's content
    is a function of (seed, event_id) alone: batch reads are identical
    whatever n_partitions says, stream rows are independent of batch
    boundaries, and batch-vs-stream parity holds for the same seed
    (per-partition hashing made the same event_id carry different
    payloads across layouts and modes)."""
    yield from _gen_record_batches(
        reader.seed, reader.n_users, partition.start, partition.count
    )


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = max(1, int(options.get("n_partitions", 4)))
        self.n_users = max(1, int(options.get("n_users", 100)))
        self.seed = int(options.get("seed", 7))

    def partitions(self):  # noqa: D102 — API contract
        base, rem = divmod(self.n_rows, self.n_parts)
        parts, start = [], 0
        for p in range(self.n_parts):
            cnt = base + (1 if p < rem else 0)
            parts.append(_Part(p, start, cnt))
            start += cnt
        return parts

    read = _read_partition


def generate_rows(
    seed: int, n_users: int, start: int, count: int
) -> list[tuple]:
    """Row-tuple view of the generator — (event_id, user_id,
    event_type, value, ts) with a naive-UTC datetime, exactly what a
    Spark collect() of the source yields.  The readers ship Arrow
    batches; this is the reference form equivalence tests compare
    against."""
    rows: list[tuple] = []
    for rb in _gen_record_batches(seed, n_users, start, count):
        cols = [c.to_pylist() for c in rb.columns]
        rows.extend(zip(*cols))
    return rows


def register(spark) -> None:
    """Register the source on a session (idempotent)."""
    spark.dataSource.register(SyntheticEventsDataSource)


class SyntheticEventsStreamReader(DataSourceStreamReader):
    """Micro-batch stream reader for the same deterministic generator:
    each ``latestOffset`` call advances the row cursor by
    ``rows_per_batch``, bounded by ``max_rows``; ``partitions(start,
    end)`` splits the [start, end) row range into ``n_partitions``
    executor-side slices.  Offsets are plain row counters — replaying
    a committed range regenerates identical rows (the determinism the
    batch reader pins), so checkpoint recovery is exact."""

    def __init__(self, options: dict):
        self.rows_per_batch = int(options.get("rows_per_batch", 100))
        self.max_rows = int(options.get("max_rows", 1000))
        self.n_parts = max(1, int(options.get("n_partitions", 4)))
        self.n_users = max(1, int(options.get("n_users", 100)))
        self.seed = int(options.get("seed", 7))
        self._cursor = 0

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        self._cursor = min(self._cursor + self.rows_per_batch, self.max_rows)
        return {"row": self._cursor}

    def _ratchet(self, *rows: int) -> None:
        # Restart resilience: a restarted process constructs a FRESH
        # reader whose cursor is 0, but Spark replays the checkpointed
        # offsets through partitions()/commit() — ratcheting the cursor
        # to every offset Spark hands back fast-forwards a fresh reader
        # to the committed position, so progress resumes instead of
        # stalling at the first batch forever (measured r10: without
        # this, six availableNow restarts never got past row
        # rows_per_batch, and the offset WAL could regress).
        for r in rows:
            if r > self._cursor:
                self._cursor = r

    def partitions(self, start: dict, end: dict):
        lo, hi = start["row"], end["row"]
        self._ratchet(lo, hi)
        # A stale post-restart latestOffset can plan end < start; clamp
        # to an empty range so no row is ever emitted twice.
        n = max(0, hi - lo)
        base, rem = divmod(n, self.n_parts)
        parts, s = [], lo
        for p in range(self.n_parts):
            cnt = base + (1 if p < rem else 0)
            if cnt:
                parts.append(_Part(p, s, cnt))
            s += cnt
        return parts or [_Part(0, lo, 0)]

    read = _read_partition

    def commit(self, end: dict) -> None:
        self._ratchet(end["row"])  # counters need no cleanup beyond this


