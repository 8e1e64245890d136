"""Full-dataset Chinook golden anchors (BASELINE.md table; SURVEY §5.1).

The reference's published analytical results (docx charts/paragraphs)
are the only ground truth for the REAL Chinook database.  No Chinook
data ships in this sandbox, so these tests are data-gated: set
``CHINOOK_DATA_DIR`` to a directory holding the 7 reference tables
(``customer invoice invoice_line track genre album artist`` as
``.parquet`` or ``.csv``, any common casing) and they assert the docx
values through the adapter + registry; otherwise they skip.

Anchors asserted here (sources in BASELINE.md):
  * Rock–Metal pair count 871; Rock–Alternative & Punk 520 (docx ¶573)
  * 100%-churn countries = {Belgium, Chile, Denmark, Netherlands,
    Norway, Spain}; USA 15.38%; Canada 12.5%; Germany 50% (¶637-639)
  * top USA albums: From The Muddy Banks Of The Wishkah / Are You
    Experienced? at $27.72, Green $24.75, Mezmerize $21.78 (¶¶329-335)
  * old/new customers (first purchase <= 2017): 57/2 customers,
    spend 4605.48/103.95 total, 80.80/51.98 avg, 10.53/7.00 orders,
    84.55/56.07 basket (chart2-4.xml)
  * Argentina/Brazil avg sales per customer 39.6/85.54 (chart7.xml)

The per-segment risk anchors (¶727) are NOT asserted: the engine's
remapped day thresholds intentionally differ from the reference's
(driver data spans different years), so those values don't transfer.
"""

from __future__ import annotations

import os

import pytest

import chinook_music_database_analysis_spark.plans.parity as parity
import chinook_music_database_analysis_spark.plans.views as views
from chinook_music_database_analysis_spark import store
from chinook_music_database_analysis_spark.cache import invalidate
from chinook_music_database_analysis_spark.plans import QUERIES
from chinook_music_database_analysis_spark.sources.chinook_adapter import mount_chinook

CHINOOK_TABLES = ("customer", "invoice", "invoice_line", "track", "genre", "album", "artist")

DATA_DIR = os.environ.get("CHINOOK_DATA_DIR")

pytestmark = pytest.mark.skipif(
    not (DATA_DIR and os.path.isdir(DATA_DIR)),
    reason="CHINOOK_DATA_DIR not set — full-dataset anchors need real Chinook data",
)


def _find_file(name: str) -> str | None:
    """Locate a table file: snake / nospace / camel casings, parquet or
    csv (InvoiceLine.csv and invoice_line.parquet both resolve)."""
    stems = {name, name.replace("_", "")}
    for f in os.listdir(DATA_DIR):
        stem, _, ext = f.rpartition(".")
        if ext.lower() in ("parquet", "csv") and stem.lower().replace("_", "") in {
            s.replace("_", "") for s in stems
        }:
            return os.path.join(DATA_DIR, f)
    return None


def _load_chinook(spark):
    tables = {}
    for name in CHINOOK_TABLES:
        path = _find_file(name)
        if path is None:
            pytest.skip(f"{name} not found under {DATA_DIR}")
        if path.endswith(".csv"):
            tables[name] = spark.read.csv(path, header=True, inferSchema=True)
        else:
            tables[name] = spark.read.parquet(path)
        # Normalize column names to the adapter's snake_case contract.
        for c in tables[name].columns:
            snake = "".join(
                ("_" + ch.lower()) if ch.isupper() and i and not c[i - 1].isupper() else ch.lower()
                for i, ch in enumerate(c)
            )
            if snake != c:
                tables[name] = tables[name].withColumnRenamed(c, snake)
    return tables


@pytest.fixture(scope="module")
def chinook_real(spark):
    return _load_chinook(spark)


@pytest.fixture(scope="module")
def real_handle(spark, chinook_real, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("chinook")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(store, "ROOT", str(tmp_path))
        yield mount_chinook(spark, chinook_real, str(tmp_path / "real"))


@pytest.fixture(autouse=True)
def _reference_constants(monkeypatch):
    # USA is the reference's NATION_0 (ref:43) and 2017 its old/new
    # customer threshold (ref:320).
    monkeypatch.setattr(views, "NATION0", "USA")
    monkeypatch.setattr(parity, "NATION0", "USA")
    monkeypatch.setattr(parity, "OLD_YEAR", 2017)
    invalidate()
    yield
    invalidate()


def test_genre_pair_anchors(spark, real_handle):
    got = {
        (r.p_type_1, r.p_type_2): r.n_pairs
        for r in QUERIES["s04_affinity_types"](spark, real_handle).collect()
    }
    assert got[("Metal", "Rock")] == 871
    assert got[("Alternative & Punk", "Rock")] == 520


def test_churn_country_anchors(spark, real_handle):
    rows = {r.n_name: r for r in QUERIES["s05_regional_churn"](spark, real_handle).collect()}
    full_churn = {n for n, r in rows.items() if r.churn_rate_pct == 100.0}
    assert {"Belgium", "Chile", "Denmark", "Netherlands", "Norway", "Spain"} <= full_churn
    assert rows["USA"].churn_rate_pct == 15.38
    assert rows["Canada"].churn_rate_pct == 12.5
    assert rows["Germany"].churn_rate_pct == 50.0


def test_top_usa_album_anchors(spark, chinook_real, tmp_path, monkeypatch):
    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    handle = mount_chinook(
        spark, chinook_real, str(tmp_path / "real-albums"), brand_from="album"
    )
    got = {r.p_brand: r.revenue for r in QUERIES["q09b_top_brands_top_types"](spark, handle).collect()}
    assert got["From The Muddy Banks Of The Wishkah"] == 27.72
    assert got["Are You Experienced?"] == 27.72
    assert got["Green"] == 24.75
    assert got["Mezmerize"] == 21.78


def test_old_vs_new_customer_anchors(spark, real_handle):
    rows = {r.status: r for r in QUERIES["s03_old_vs_new"](spark, real_handle).collect()}
    assert rows["old"].n_customers == 57 and rows["new"].n_customers == 2
    assert rows["old"].total_spend == 4605.48 and rows["new"].total_spend == 103.95
    assert rows["old"].avg_spend_per_cust == 80.80 and rows["new"].avg_spend_per_cust == 51.98
    assert rows["old"].avg_orders_per_cust == 10.53 and rows["new"].avg_orders_per_cust == 7.00
    assert rows["old"].avg_basket_size == 84.55 and rows["new"].avg_basket_size == 56.07


def test_geo_behavior_anchors(spark, real_handle):
    rows = {r.n_name: r for r in QUERIES["s11_geo_behavior"](spark, real_handle).collect()}
    assert rows["Argentina"].avg_spend == 39.6
    assert rows["Brazil"].avg_spend == 85.54
    assert rows["Czech Republic"].avg_spend == 136.62
