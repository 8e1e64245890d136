"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection with the driver tables registered as views, and the
order-insensitive compare helper mirroring the driver's correctness
gate (row count + column names + values after sorting)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from chinook_music_database_analysis_spark.sources import get_spark

# Oracle connection and compare logic live in the package so the fuzz
# gate (scripts/fuzzgate.py) and Engine.validate apply the IDENTICAL
# compare.
from chinook_music_database_analysis_spark.testing import (
    frames_mismatch,
    oracle_connection,
)

#: Tests default to the smallest SF for speed; CI can point elsewhere.
SF_TEST_DIR = os.environ.get("SF_TEST_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("chinook-spark-tests")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = oracle_connection(SF_TEST_DIR)
    yield con
    con.close()


def write_table_dir(path, tables: dict) -> str:
    """Write ``tables`` ({name: DataFrame}) as a table directory of
    ``{path}/{name}.parquet`` — the one table source every query reads —
    and return ``path``."""
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{path}/{name}.parquet")
    return str(path)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    reason = frames_mismatch(spark_pdf, oracle_pdf, name)
    assert reason is None, f"{name}: {reason}"
