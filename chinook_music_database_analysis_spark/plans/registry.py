from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TYPE_CHECKING

from ..cache import memo

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

#: name -> (spark, sf_dir) -> DataFrame
QUERIES: dict[str, "Callable[[SparkSession, str], DataFrame]"] = {}
#: name -> equivalent ANSI SQL for DuckDB (omitted for non-SQL-expressible ops)
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optionally its oracle SQL) to the registry.

    Raises on a duplicate name: ``QUERIES[name] = fn`` would silently
    overwrite, so a copy-pasted registration block would ship as dead
    code with no warning (this bit r9 — sim_label_drift was registered
    twice, byte-identical; had the copies diverged, only the later one
    would have taken effect).

    The registered callable serves the built DataFrame from the session
    cache (``cache.memo``): building costs 0.08-0.35 s of Python, py4j
    and Catalyst analysis, and a lazy plan can be reused for as long as
    the session and the corpus snapshot are unchanged — every action on
    it still executes in full.  The raw builder stays reachable as
    ``QUERIES[name].__wrapped__``.
    """

    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} is already in the "
                f"registry (defined by {QUERIES[name].__module__})"
            )

        @functools.wraps(fn)
        def query(spark: "SparkSession", sf_dir: str) -> "DataFrame":
            return memo(f"plan:{name}", spark, sf_dir, lambda: fn(spark, sf_dir))

        query.query_name = name
        QUERIES[name] = query
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
