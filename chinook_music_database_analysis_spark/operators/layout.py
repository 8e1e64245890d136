"""Multi-dimensional data layout: Z-order (Morton) clustering.

``write_sorted_by`` (sources/sinks.py) clusters on ONE key — pushed
range predicates on that key skip row groups, but a second dimension
is scattered across every file.  Z-ordering interleaves the bits of
two keys so files/row-groups are narrow in BOTH dimensions at once:
the standard multi-dimensional clustering policy (Delta OPTIMIZE
ZORDER BY, Iceberg sort orders) expressed with nothing but built-in
bitwise expressions — the whole code computation stays inside
whole-stage codegen, and the layout write is one range shuffle.

At 100 TB: z-order each partition directory independently; a reader
filtering a 2-D box (``part BETWEEN a AND b AND supp BETWEEN c AND
d``) then skips the vast majority of row groups at footer level
instead of scanning one full dimension.

Determinism: the Morton code is pure integer bit arithmetic, so the
same expression is generated for Spark and for the DuckDB oracle
(``morton_sql``) from one list of (shift, mask) constants — the two
dialects cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.sinks import _write_range_clustered

#: Bit-spreading ladder for 16-bit inputs (classic magic-number
#: interleave): after these steps the 16 input bits occupy the even
#: bit positions of a 32-bit lane.
_SPREAD_STEPS: tuple[tuple[int, int], ...] = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)

MORTON_BITS = 16
_IN_MASK = (1 << MORTON_BITS) - 1


def _spread(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` onto even bit positions."""
    out = c.bitwiseAND(F.lit(_IN_MASK))
    for shift, mask in _SPREAD_STEPS:
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def morton_code(x: Column, y: Column) -> Column:
    """Interleave the low 16 bits of two non-negative integer columns
    into one 32-bit Morton code (x on even bits, y on odd)."""
    return _spread(x.cast("bigint")).bitwiseOR(
        F.shiftleft(_spread(y.cast("bigint")), 1)
    )


def _spread_sql(expr: str) -> str:
    out = f"({expr} & {_IN_MASK})"
    for shift, mask in _SPREAD_STEPS:
        out = f"(({out} | ({out} << {shift})) & {mask})"
    return out


def morton_sql(x_expr: str, y_expr: str) -> str:
    """DuckDB expression computing the identical Morton code —
    generated from the same constants as :func:`morton_code`."""
    return (
        f"({_spread_sql(f'CAST({x_expr} AS BIGINT)')} | "
        f"({_spread_sql(f'CAST({y_expr} AS BIGINT)')} << 1))"
    )


def scaled16(col_name: str, lo: int, hi: int) -> Column:
    """Affine-scale an integer column from [lo, hi] onto the full
    16-bit Morton input range.  Interleaving RAW values wastes curve
    bits when the two key ranges differ (a 4-bit key contributes only
    low-order bits, so no realistic file count can bound it) — which
    is why production z-order implementations (Delta OPTIMIZE ZORDER,
    Iceberg) interleave range-normalized ranks, not raw values.
    Min/max scaling is the cheap rank proxy (exact for ~uniform keys;
    for heavily skewed keys substitute sampled quantile bucket ids at
    the same 16-bit width — same plan shape).  Integer-exact:
    (c - lo) * 65535 div (hi - lo) — ``div`` (not ``/``) keeps the
    whole computation in bigint, no double rounding at any key
    magnitude."""
    span = max(1, hi - lo)
    return F.expr(
        f"((CAST(`{col_name}` AS BIGINT) - {lo}) * {_IN_MASK}) div {span}"
    )


def _minmax_morton(df: DataFrame, x: str, y: str) -> Column | None:
    """Morton code of ``(x, y)`` min/max-scaled onto the 16-bit lanes
    (:func:`scaled16`; the two tiny ANALYZE aggregates that fetch the
    bounds are O(1) driver state) — or None when there is nothing to
    cluster: an empty input or an all-NULL key would otherwise crash
    on int(None)."""
    bounds = df.agg(
        F.min(x).alias("x_lo"), F.max(x).alias("x_hi"),
        F.min(y).alias("y_lo"), F.max(y).alias("y_hi"),
    ).collect()[0]
    if bounds["x_lo"] is None or bounds["y_lo"] is None:
        return None
    return morton_code(
        scaled16(x, int(bounds["x_lo"]), int(bounds["x_hi"])),
        scaled16(y, int(bounds["y_lo"]), int(bounds["y_hi"])),
    )


def write_zordered(df: DataFrame, path: str, x: str, y: str, n_files: int = 8) -> None:
    """Write ``df`` as Parquet clustered on the Z-order curve of
    ``(x, y)``: range-partition on the Morton code (each output file
    covers a disjoint curve segment) and sort within partitions, so
    every row group's [min, max] is narrow on BOTH columns and a
    pushed 2-D box predicate skips at footer level.

    Keys are min/max-scaled onto the full 16-bit lanes first
    (:func:`_minmax_morton`).  One range shuffle after that, exactly
    like single-key ``write_sorted_by`` — z-ordering costs nothing
    extra at write time.
    """
    _write_range_clustered(df, path, _minmax_morton(df, x, y), n_files)


def write_zordered_partitioned(
    df: DataFrame,
    path: str,
    part_col: str,
    x: str,
    y: str,
) -> None:
    """The 100 TB composition: Hive-partition on ``part_col`` (the
    coarse pruning dimension — typically a date) and Z-order ``(x, y)``
    WITHIN each partition directory, in one job and one range shuffle.

    Range-partitioning the tasks on (partition, z) makes every task
    hold a contiguous slice of one partition's curve, so the files it
    emits under that partition's directory cover disjoint z segments —
    per-directory the layout is exactly :func:`write_zordered`'s, and
    a query with a partition predicate + a 2-D box prunes directories
    first, then row groups.  Scaling bounds are global (one pair of
    tiny ANALYZE aggregates); per-partition bounds would buy little
    since z segments never span partition directories anyway."""
    _write_range_clustered(df, path, _minmax_morton(df, x, y), 16, part_col)


#: rank buckets per key for :func:`quantile_rank16` (8 meaningful bits).
RANK16_BUCKETS = 256


def quantile_rank16(df: DataFrame, col_name: str) -> Column:
    """Quantile-rank scaling onto the 16-bit Morton lane — the
    skewed-key upgrade :func:`scaled16`'s docstring promises.  Affine
    min/max scaling collapses under skew: with values spanning orders
    of magnitude, most rows land in a sliver of the lane and the curve
    degenerates to 1-D on the other key.  Rank scaling spreads rows
    ~uniformly across buckets regardless of the value distribution —
    exactly why Delta's OPTIMIZE ZORDER interleaves range-partition
    ids, not raw values.

    Implementation: one approxQuantile sample pass (Greenwald-Khanna,
    driver gets <= RANK16_BUCKETS boundary literals — O(config) state, same
    ANALYZE budget as the min/max pair), then a codegen'd fold over
    the boundary array counts how many boundaries each value passes.
    RANK16_BUCKETS=256 gives 8 meaningful bits per key — multi-file
    locality needs file counts, not bit depth, so 256 ranks per
    dimension is far finder than any realistic layout granularity.
    """
    import math as _math

    # NaN guard (r10 review): approxQuantile itself throws
    # NumberFormatException on a NaN-bearing double column, and a NaN
    # cut would render as the bare token `nan` in the SQL below (an
    # unresolved column reference).  Drop NaN rows from the SAMPLE
    # pass and non-finite cuts from the boundaries; NaN compares
    # greatest in Spark SQL, so NaN rows deterministically land in the
    # top bucket of the fold.
    finite = df.filter(
        ~F.isnan(F.col(col_name).cast("double"))
        & F.col(col_name).isNotNull()
    )
    cuts = finite.approxQuantile(
        col_name, [i / RANK16_BUCKETS for i in range(1, RANK16_BUCKETS)], 0.001
    )
    bounds = sorted({c for c in cuts if _math.isfinite(c)})
    if not bounds:
        return F.lit(0).cast("bigint")
    arr = ", ".join(f"CAST({b!r} AS DOUBLE)" for b in bounds)
    bucket = F.expr(
        f"aggregate(array({arr}), 0, "
        f"(acc, b) -> acc + IF(CAST(`{col_name}` AS DOUBLE) >= b, 1, 0))"
    )
    return (bucket.cast("bigint") * F.lit(_IN_MASK)) / F.lit(len(bounds))


def write_zordered_ranked(
    df: DataFrame, path: str, x: str, y: str, n_files: int = 8
) -> None:
    """:func:`write_zordered` with quantile-rank lanes — the variant
    for skewed keys.  Same single range shuffle; the only extra cost
    is the two approxQuantile sample passes."""
    key = morton_code(
        quantile_rank16(df, x).cast("bigint"), quantile_rank16(df, y).cast("bigint")
    )
    _write_range_clustered(df, path, key, n_files)
