"""The benchmark's fixed item sets and the seeded order they run in.

An item is either a registry query (run by name through ``Engine.query``)
or a streaming path (an availableNow drain built from ``streaming.*``).
The seed only permutes item order within each pass: every pass of every
run executes the same items, so runs with different seeds measure the
same work.

The sets are small so that a whole run, cold Spark set-up included,
takes about a minute on four cores.  ``olap`` takes four of the five
slowest relational queries that ROADMAP item 5 names plus q04c's
rollup, and leaves the index store and the session memo idle.
``corpus`` takes, of the 96 LLM-data queries ranked by measured warm
time over this data on four cores, the 3rd and the 5th
(dd_cdc_incremental, pipe_filter_funnel) and sim_knn_graph, the slowest
``sim*`` query on the LSH-bucket and dot-product path (9th); the three
take 6.5% of a warm pass over all 96.  sim_knn_graph trains two store
kinds in the first pass and the warm passes read them, so a change to
the index store, the session memo or the Python/Arrow operators should
move ``corpus`` and leave ``olap`` flat.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: registry query names, timed with a noop write
    queries: tuple[str, ...]
    #: the streaming path drained once per pass
    stream: str
    #: store kinds the first pass trains into the empty store, exactly
    store_kinds: frozenset[str]

    @property
    def items(self) -> tuple[str, ...]:
        return self.queries + (stream_item(self.stream),)


STREAM_PREFIX = "stream:"


def stream_item(path: str) -> str:
    return STREAM_PREFIX + path


def is_stream(item: str) -> bool:
    return item.startswith(STREAM_PREFIX)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="olap",
            why=(
                "relational registry queries (joins, rollup, window top-k, self-joins)"
                " plus a stateful dedup stream: Spark shuffles and operators do the"
                " work; no index store, caches do little"
            ),
            queries=(
                "q02_top_parts_nation0",
                "q04c_rollup_geo",
                "q06_top_part_per_cust",
                "s02_intl_types",
                "s04_affinity_brands",
            ),
            stream="dedup_within_watermark",
            store_kinds=frozenset(),
        ),
        Workload(
            name="corpus",
            why=(
                "LLM-data queries (CDC dedup, filter funnel, LSH k-NN graph that trains"
                " its index store) plus the postings stream: index store, session memo"
                " and Python/Arrow layers do the work"
            ),
            queries=(
                "dd_cdc_incremental",
                "pipe_filter_funnel",
                "sim_knn_graph",
            ),
            stream="postings_log",
            store_kinds=frozenset({"emb_buckets", "emb_norms"}),
        ),
    )
}


class PassOrder:
    """Seeded source of item orders: each call to :meth:`next` returns a
    fresh permutation of ``items``; the sequence depends only on the
    seed."""

    def __init__(self, items: tuple[str, ...], seed: int):
        self._items = list(items)
        self._rng = random.Random(seed)

    def next(self) -> list[str]:
        order = list(self._items)
        self._rng.shuffle(order)
        return order
