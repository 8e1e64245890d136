"""Skew-mitigation operators: salting for hot keys.

AQE's skew-join splitting handles most runtime skew automatically
(enabled in sources.session); these operators are the explicit
formulations for when the skew is known ahead of time or AQE can't see
it (e.g. a skewed aggregation key, or a broadcast-ineligible join
against a dimension with one hot key).

Correctness notes: the salt only controls physical distribution —
results are identical for any salt assignment.  Exactness under
re-aggregation holds for decomposable aggregates; money stays DECIMAL
through both phases so the two-phase sum is bit-identical to the
one-phase sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 8


def _row_salt() -> Column:
    """Deterministic-enough per-row salt in [0, DEFAULT_SALTS).

    monotonically_increasing_id varies within every partition, which is
    exactly what's needed: rows of the same hot key spread across
    salts.  (Any assignment is correct; this one avoids a rand() seed.)
    """
    return F.pmod(F.monotonically_increasing_id(), F.lit(DEFAULT_SALTS)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Two-phase aggregation through a salted key.

    Phase 1 aggregates on (keys + salt) — a hot key's rows land in
    DEFAULT_SALTS different reducers; phase 2 re-aggregates the per-salt
    partials on the true keys (DEFAULT_SALTS rows per key, trivially cheap).

    ``aggs`` maps output column name -> phase-1 aggregate expression;
    phase 2 re-combines with SUM, so pass decomposable aggregates
    (sum/count as sums).
    """
    if "__salt" in df.columns:  # internal name must not clobber caller data
        raise ValueError("salted_agg: df already has a __salt column")
    salted = df.withColumn("__salt", _row_salt())
    p1 = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )
    return p1.groupBy(*keys).agg(
        *[F.sum(name).alias(name) for name in aggs]
    )


def salted_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Skew-safe inner equi-join: salt the big side per row, replicate
    the small side across all salts, join on (key, salt).

    The hot key's rows split across DEFAULT_SALTS tasks at the cost of
    DEFAULT_SALTS x |small| replication — the standard trade when the
    small side is modest but above the broadcast threshold.
    """
    if "__salt" in big.columns or "__salt" in small.columns:
        raise ValueError("salted_join: inputs already have a __salt column")
    big_s = big.withColumn("__salt", _row_salt())
    small_r = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(DEFAULT_SALTS).select(
                F.col("id").cast("int").alias("__salt")
            )
        )
    )
    out = big_s.join(small_r, on=[key, "__salt"])
    return out.drop("__salt")
