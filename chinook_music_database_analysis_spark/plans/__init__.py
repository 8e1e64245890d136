"""Query registry.

Importing this package populates ``QUERIES`` (name -> callable
``(spark, sf_dir) -> DataFrame``) and ``ORACLES`` (name -> ANSI SQL for
the DuckDB correctness oracle).  ``__spark_entry__.py`` re-exports both.
Iteration order is definition order; consumers that need a stable
order (bench.py, scripts/fuzzgate.py, the oracle-parity test) sort.
"""

from .registry import ORACLES, QUERIES, register

from . import parity  # noqa: E402,F401  (registration side effects)
from . import extensions  # noqa: E402,F401
from . import curation_queries  # noqa: E402,F401
from . import scale_queries  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLES", "register"]
