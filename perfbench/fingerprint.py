"""Order-insensitive result fingerprint of a DataFrame.

The fingerprint is ``(row count, sum of per-row xxhash64)``.  A sum does
not depend on row order, so two results with the same rows in any order
match, while one changed value changes that row's hash and the sum.
Floating-point values (also inside arrays, structs and maps) are rounded
to ``DIGITS`` decimals before hashing, so summation-order noise in the
last bits does not read as a different result.  Map entries are sorted
first because hashing a map is not allowed and its entry order is not
part of its value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    MapType,
    StructType,
)

DIGITS = 6


def _canonical(col: Column, dtype: DataType) -> Column:
    if isinstance(dtype, (DoubleType, FloatType)):
        return F.round(col.cast("double"), DIGITS)
    if isinstance(dtype, ArrayType):
        return F.transform(col, lambda x: _canonical(x, dtype.elementType))
    if isinstance(dtype, StructType):
        return F.struct(
            *[_canonical(col[f.name], f.dataType).alias(f.name) for f in dtype.fields]
        )
    if isinstance(dtype, MapType):
        values = F.transform_values(col, lambda _k, v: _canonical(v, dtype.valueType))
        return F.array_sort(F.map_entries(values))
    return col


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """Run ``df`` once and return ``(rows, hash sum as a decimal string)``."""
    row_hash = F.xxhash64(*[_canonical(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields])
    row = df.select(row_hash.cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(row["n"]), str(row["s"] if row["s"] is not None else 0)
