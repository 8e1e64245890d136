"""Tests of the benchmark itself: the seeded item order, the result
fingerprint, the metric names against BENCHMARK.json, and a smoke run
of one query (plus the stream) per workload over the benchmark's own
data, whose expected fingerprints are in ``expected.json``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from fingerprint import fingerprint  # noqa: E402
from workloads import WORKLOADS, PassOrder  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_seed_gives_a_deterministic_permutation_of_the_fixed_items():
    items = WORKLOADS["olap"].items
    passes = [PassOrder(items, 7).next() for _ in range(2)]
    assert passes[0] == passes[1]
    order = PassOrder(items, 7)
    seq = [order.next() for _ in range(4)]
    assert all(sorted(p) == sorted(items) for p in seq)
    assert len({tuple(p) for p in seq}) > 1
    assert PassOrder(items, 8).next() != seq[0]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


SCHEMA = "id int, s string, x double, xs array<double>, m map<string,double>"
ROWS = [
    (1, "a", 0.1 + 0.2, [1.0, 2.5], {"k": 0.5, "j": 1.0}),
    (2, "b", 3.0, [], {}),
    (3, None, None, None, None),
]


def test_fingerprint_ignores_row_order(spark):
    a = spark.createDataFrame(ROWS, SCHEMA)
    b = spark.createDataFrame(list(reversed(ROWS)), SCHEMA).repartition(3)
    assert fingerprint(a) == fingerprint(b)
    assert fingerprint(a)[0] == 3


def test_fingerprint_ignores_float_noise(spark):
    rounded = [(1, "a", 0.3, [1.0, 2.5], {"j": 1.0, "k": 0.5})] + ROWS[1:]
    assert fingerprint(spark.createDataFrame(ROWS, SCHEMA)) == fingerprint(
        spark.createDataFrame(rounded, SCHEMA)
    )


@pytest.mark.parametrize(
    "changed",
    [
        (2, "b", 3.5, [], {}),
        (2, "c", 3.0, [], {}),
        (2, "b", 3.0, [0.0], {}),
        (2, "b", 3.0, [], {"k": 0.25}),
    ],
)
def test_fingerprint_catches_one_changed_value(spark, changed):
    base = fingerprint(spark.createDataFrame(ROWS, SCHEMA))
    other = fingerprint(spark.createDataFrame([ROWS[0], changed, ROWS[2]], SCHEMA))
    assert other[0] == base[0]
    assert other != base


def test_metric_names_and_workloads_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: w.why for name, w in WORKLOADS.items()
    }
    for name in list(run.END_TO_END) + list(run.PER_LAYER):
        assert NAME.fullmatch(name), name


def test_expected_fingerprints_cover_every_item():
    with open(run.EXPECTED_PATH) as fh:
        expected = json.load(fh)["sf0.01"]
    for w in WORKLOADS.values():
        assert set(w.items) <= set(expected), w.name
        # a drain is checked by what it wrote, not only by what it read
        input_rows, output_rows, _hash = expected[w.items[-1]]
        assert input_rows > 0 and output_rows > 0, w.name


@pytest.mark.parametrize("workload,trace", [("olap", 0), ("corpus", 1)])
def test_smoke_run_of_one_query(workload, trace):
    proc = subprocess.run(
        [
            sys.executable, os.path.join(BENCH, "run.py"),
            "--workload", workload, "--seed", "1", "--seconds", "1",
            "--trace", str(trace), "--limit", "1",
        ],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    printed = {name: m["unit"] for name, m in out["metrics"].items()}
    assert printed == (run.PER_LAYER if trace else run.END_TO_END)
    assert all(NAME.fullmatch(name) for name in printed)
