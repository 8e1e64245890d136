"""The oracle compare and the DuckDB oracle connection, shared by the
test suite, the fuzz gate and ``Engine.validate``.

The correctness driver compares Spark vs DuckDB results
order-insensitively: row count + sorted column names + values after a
stable sort on stringified rows.  ``tests/conftest.py`` and
``scripts/fuzzgate.py`` must apply the IDENTICAL compare (a gate that
is looser than the driver hides failures; stricter manufactures them),
so the logic lives here once.
"""

from __future__ import annotations

import os

import pandas as pd


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per table present under
    ``sf_dir``: a plain ``{table}.parquet`` file is read directly, a
    Spark-written ``{table}.parquet`` directory through
    ``'<dir>/*.parquet'`` (DuckDB finds no files at a bare directory
    path).  Absent tables are skipped, as ``register_views`` skips
    them."""
    import duckdb

    from .sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by stringified values (the driver
    hashes order-insensitively; sorting on a string key is robust to
    mixed/null columns)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).reset_index(drop=True)
    if len(pdf):
        key = pdf.astype(str).agg("|".join, axis=1)
        pdf = pdf.loc[key.sort_values(kind="mergesort").index].reset_index(drop=True)
    return pdf


def frames_mismatch(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str
) -> str | None:
    """Return a one-line mismatch description, or None when the frames
    match under the driver's compare (count + columns + exact values +
    the stringified-value strictness that catches oracle type drift)."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return (
            f"column mismatch {sorted(spark_pdf.columns)} vs "
            f"{sorted(oracle_pdf.columns)}"
        )
    if len(spark_pdf) != len(oracle_pdf):
        return f"row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    # Timestamps arrive with different resolutions (Spark: us, DuckDB:
    # us/ns) — unify before the exact compare.
    for col in a.columns:
        if pd.api.types.is_datetime64_any_dtype(
            a[col]
        ) or pd.api.types.is_datetime64_any_dtype(b[col]):
            a[col] = pd.to_datetime(a[col]).astype("datetime64[us]")
            b[col] = pd.to_datetime(b[col]).astype("datetime64[us]")
    try:
        pd.testing.assert_frame_equal(
            a, b, check_dtype=False, check_exact=True, obj=name
        )
    except AssertionError as exc:
        return str(exc).replace("\n", " | ")[:600]
    # The driver's gate compares STRINGIFIED values, so a numerically
    # equal result can still fail it on type drift — e.g. an uncast
    # DuckDB SUM(BIGINT) lands in pandas as float and prints 4568.0
    # against Spark's 4568 (caught live in r8 on three oracles).
    if not a.astype(str).equals(b.astype(str)):
        diff_cols = [
            c for c in a.columns if not a[c].astype(str).equals(b[c].astype(str))
        ]
        return (
            "values match numerically but stringified compare differs — "
            f"oracle/Spark type drift in {diff_cols} (cast the oracle aggregates)"
        )
    return None
