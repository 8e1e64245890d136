"""Golden-value tests on a Chinook-shaped micro-fixture (FIXTURES.md §3,
SURVEY §5.2 layer 2).

The fixture is small enough that every expected value below is computed
by hand; the adapter mounts it and the engine's registry queries run on
it unchanged — the 'a reference user could switch' path.
"""

from __future__ import annotations

import datetime as dt

import pytest

import chinook_music_database_analysis_spark.plans.parity as parity
import chinook_music_database_analysis_spark.plans.views as views
from chinook_music_database_analysis_spark import store
from chinook_music_database_analysis_spark.cache import invalidate
from chinook_music_database_analysis_spark.plans import QUERIES
from chinook_music_database_analysis_spark.sources.chinook_adapter import mount_chinook

D = dt.datetime


def micro_chinook(spark):
    """The micro-fixture's seven Chinook tables."""
    c = spark.createDataFrame
    return {
        "genre": c(
            [(1, "Rock"), (2, "Jazz"), (3, "Metal"), (4, "Classical")],
            "genre_id int, name string",
        ),
        "artist": c([(1, "A1"), (2, "A2"), (3, "A3")], "artist_id int, name string"),
        "album": c([(1, "Al1", 1), (2, "Al2", 1), (3, "Al3", 2)], "album_id int, title string, artist_id int"),
        "track": c(
            [
                (1, "T1", 1, 1, 1.00),
                (2, "T2", 2, 1, 2.00),
                (3, "T3", 3, 2, 1.50),
                (4, "T4", 1, 3, 0.50),
                (5, "T5", 3, 4, 9.99),  # never sold
                (6, "T6", 3, 2, 3.00),
            ],
            "track_id int, name string, album_id int, genre_id int, unit_price double",
        ),
        "customer": c(
            [
                (1, "Alice", "Smith", "USA", "CA", "LA"),
                (2, "Bob", "Jones", "USA", "NY", "NYC"),
                (3, "Carol", "King", "Canada", None, "Toronto"),
                (4, "Dan", "Day", "Germany", None, "Berlin"),
            ],
            "customer_id int, first_name string, last_name string, country string, state string, city string",
        ),
        "invoice": c(
            [
                (1, 1, D(2020, 1, 10), 4.00),
                (2, 1, D(2020, 6, 10), 2.00),
                (3, 2, D(2020, 6, 15), 3.50),
                (4, 3, D(2019, 12, 1), 1.50),
                (5, 4, D(2020, 12, 31), 6.00),
            ],
            "invoice_id int, customer_id int, invoice_date timestamp, total double",
        ),
        "invoice_line": c(
            [
                (1, 1, 1, 1.00, 2),
                (2, 1, 2, 2.00, 1),
                (3, 2, 1, 1.00, 2),
                (4, 3, 3, 1.50, 1),
                (5, 3, 4, 0.50, 4),
                (6, 4, 3, 1.50, 1),
                (7, 5, 6, 3.00, 2),
            ],
            "invoice_line_id int, invoice_id int, track_id int, unit_price double, quantity int",
        ),
    }


@pytest.fixture(scope="module")
def chinook_handle(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("chinook")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(store, "ROOT", str(tmp_path))
        yield mount_chinook(spark, micro_chinook(spark), str(tmp_path / "micro"))


@pytest.fixture(autouse=True)
def _usa_nation0(monkeypatch):
    # The 'NATION_0' filter means USA on Chinook data (ref:43).
    monkeypatch.setattr(views, "NATION0", "USA")
    monkeypatch.setattr(parity, "NATION0", "USA")
    invalidate()
    yield
    invalidate()


def test_q02_top_tracks_usa_golden(spark, chinook_handle):
    # Hand-computed: T1 rev 4.00 qty 4 (rank 1); tie at 2.00 broken by
    # qty: T4 qty 4 (rank 2), T2 qty 1 (rank 3); T3 1.50 (rank 4).
    got = (
        QUERIES["q02_top_parts_nation0"](spark, chinook_handle)
        .orderBy("rnk")
        .collect()
    )
    assert [(r.p_name, r.revenue, r.rnk) for r in got] == [
        ("T1", 4.00, 1),
        ("T4", 2.00, 2),
        ("T2", 2.00, 3),
        ("T3", 1.50, 4),
    ]


def test_q08_churn_golden(spark, chinook_handle):
    # Anchor 2020-12-31; cutoff 2020-06-30.  Last orders: Alice 06-10,
    # Bob 06-15, Carol 2019-12-01 (all churned), Dan 12-31 (active).
    r = QUERIES["q08_churn_rate"](spark, chinook_handle).collect()[0]
    assert r.total_customers == 4
    assert r.churned_customers == 3
    assert r.churn_rate_pct == 75.0


def test_q09_view_golden(spark, chinook_handle):
    # USA revenue by genre: Rock 6.00 (63.16%), Metal 2.00 (21.05%),
    # Jazz 1.50 (15.79%).
    got = {
        r.p_type: (r.revenue, r.pct_of_nation, r.rnk)
        for r in QUERIES["q09_type_pct_nation0"](spark, chinook_handle).collect()
    }
    assert got == {
        "Rock": (6.00, 63.16, 1),
        "Metal": (2.00, 21.05, 2),
        "Jazz": (1.50, 15.79, 3),
    }


def test_s04_genre_pairs_golden(spark, chinook_handle):
    # Only invoice 3 mixes genres: (Jazz, Metal) once.  Invoice 1 is
    # Rock+Rock (excluded by the <> filter).
    got = QUERIES["s04_affinity_types"](spark, chinook_handle).collect()
    assert [(r.p_type_1, r.p_type_2, r.n_pairs) for r in got] == [("Jazz", "Metal", 1)]
    scaled = QUERIES["s04_affinity_types_scaled"](spark, chinook_handle).collect()
    assert [(r.p_type_1, r.p_type_2, r.n_pairs) for r in scaled] == [("Jazz", "Metal", 1)]


def test_q03_demographics_golden(spark, chinook_handle):
    got = {
        r.n_name: r.n_customers
        for r in QUERIES["q03_demographics"](spark, chinook_handle).collect()
    }
    assert got == {"USA": 2, "Canada": 1, "Germany": 1}


def test_s05_regional_churn_golden(spark, chinook_handle):
    """Micro-fixture analogue of the strongest docx churn anchors
    (BASELINE.md: 100%-churn countries, USA 15.38% formula): the
    per-country churn-rate FORMULA asserted on hand-computed data.
    Anchor = max invoice date 2020-12-31; month_diff >= 6 churns.
    Last orders: Alice 06-10 (6 mo, churned), Bob 06-15 (6 mo,
    churned), Carol 2019-12-01 (13 mo, churned), Dan 12-31 (active) —
    so USA and Canada are the fixture's '100% churn countries'."""
    got = {
        r.n_name: (r.n_customers, r.churned_customers, r.churn_rate_pct)
        for r in QUERIES["s05_regional_churn"](spark, chinook_handle).collect()
    }
    assert got == {
        "USA": (2, 2, 100.0),
        "Canada": (1, 1, 100.0),
        "Germany": (1, 0, 0.0),
    }
    assert {c for c, (_, ch, _pct) in got.items() if _pct == 100.0} == {"USA", "Canada"}


def test_s03_old_new_golden(spark, chinook_handle, monkeypatch):
    """Micro-fixture analogue of the docx chart2-4 old/new split
    (customer counts, total/avg spend, order frequency, basket size)
    with the old-year boundary at 2019: Carol (first order 2019) is
    the fixture's 'old' cohort, everyone else 'new'."""
    monkeypatch.setattr(parity, "OLD_YEAR", 2019)
    got = {
        r.status: (
            r.n_customers,
            r.n_orders,
            r.total_spend,
            r.avg_spend_per_cust,
            r.avg_orders_per_cust,
            r.avg_basket_size,
        )
        for r in QUERIES["s03_old_vs_new"](spark, chinook_handle).collect()
    }
    # old: Carol — 1 order (inv4, 1 line) of 1.50.
    # new: Alice (inv1: 2 lines / 4.00, inv2: 1 line / 2.00),
    #      Bob (inv3: 2 lines / 3.50), Dan (inv5: 1 line / 6.00)
    #      -> 3 customers, 4 orders, 15.50 spend, 5.17 avg spend,
    #         1.33 orders/cust, 6 items / 4 orders = 1.5 basket.
    assert got == {
        "old": (1, 1, 1.50, 1.50, 1.0, 1.0),
        "new": (3, 4, 15.50, 5.17, 1.33, 1.5),
    }


def test_s11_geo_behavior_golden(spark, chinook_handle):
    """Micro-fixture analogue of the docx chart7 per-country averages
    (Argentina 39.6 / Brazil 85.54 shape): avg spend and avg items per
    customer by country, hand-computed."""
    got = {
        r.n_name: (r.n_customers, r.avg_spend, r.avg_items)
        for r in QUERIES["s11_geo_behavior"](spark, chinook_handle).collect()
    }
    # USA: Alice 6.00 spend / 3 items, Bob 3.50 / 2 -> avg 4.75 / 2.5.
    assert got == {
        "USA": (2, 4.75, 2.5),
        "Canada": (1, 1.50, 1.0),
        "Germany": (1, 6.00, 1.0),
    }


def test_q05_top_customers_golden(spark, chinook_handle):
    # Per-nation spend: USA Alice 6.00 > Bob 3.50; Canada Carol 1.50;
    # Germany Dan 6.00.
    got = QUERIES["q05_top5_cust_per_nation"](spark, chinook_handle).collect()
    by_cust = {r.c_name: (r.n_name, r.spend, r.rnk) for r in got}
    assert by_cust == {
        "Alice Smith": ("USA", 6.00, 1),
        "Bob Jones": ("USA", 3.50, 2),
        "Carol King": ("Canada", 1.50, 1),
        "Dan Day": ("Germany", 6.00, 1),
    }


def test_q09b_top_albums_revenue_tie_golden(spark, tmp_path, monkeypatch):
    """Micro-fixture analogue of the docx top-USA-albums anchor
    (BASELINE.md: 'From The Muddy Banks Of The Wishkah' and 'Are You
    Experienced?' BOTH at $27.72): two albums in the same genre with
    bit-identical revenue must both surface, ranked deterministically
    by the name tie-break — the exact tie the reference's published
    result exhibits.  Fixture: one genre, two albums at 27.72 each, a
    third at 24.75 (the reference's 'Green' shape)."""
    c = spark.createDataFrame
    chinook = {
        "genre": c([(1, "Rock")], "genre_id int, name string"),
        "artist": c([(1, "A1")], "artist_id int, name string"),
        "album": c(
            [(1, "Are You Experienced?", 1),
             (2, "From The Muddy Banks Of The Wishkah", 1),
             (3, "Green", 1)],
            "album_id int, title string, artist_id int",
        ),
        "track": c(
            [(1, "T1", 1, 1, 0.99), (2, "T2", 2, 1, 0.99), (3, "T3", 3, 1, 0.99)],
            "track_id int, name string, album_id int, genre_id int, unit_price double",
        ),
        "customer": c(
            [(1, "Alice", "Smith", "USA", "CA", "LA")],
            "customer_id int, first_name string, last_name string, country string, state string, city string",
        ),
        "invoice": c(
            [(1, 1, D(2020, 1, 10), 80.19)],
            "invoice_id int, customer_id int, invoice_date timestamp, total double",
        ),
        # 28 x 0.99 = 27.72 for both tied albums; 25 x 0.99 = 24.75.
        "invoice_line": c(
            [(1, 1, 1, 0.99, 28), (2, 1, 2, 0.99, 28), (3, 1, 3, 0.99, 25)],
            "invoice_line_id int, invoice_id int, track_id int, unit_price double, quantity int",
        ),
    }
    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    handle = mount_chinook(spark, chinook, str(tmp_path / "tie"), brand_from="album")
    got = (
        QUERIES["q09b_top_brands_top_types"](spark, handle)
        .orderBy("brand_rank")
        .collect()
    )
    assert [(r.p_brand, r.revenue, r.brand_rank) for r in got] == [
        ("Are You Experienced?", 27.72, 1),
        ("From The Muddy Banks Of The Wishkah", 27.72, 2),
        ("Green", 24.75, 3),
    ]


def test_adapter_keeps_null_country_customers(spark):
    """r12 review: the reference's GROUP BY billing_country keeps NULL
    as its own group, so a NULL-country customer must survive the
    adapter's nation join (the old equi-join dropped them from every
    adapted query) and land in the NULL-named nation."""
    from chinook_music_database_analysis_spark.sources.chinook_adapter import (
        adapt_chinook_tables,
    )

    c = spark.createDataFrame
    chinook = {
        "genre": c([(1, "Rock")], "genre_id int, name string"),
        "artist": c([(1, "A")], "artist_id int, name string"),
        "album": c([(1, "Al", 1)], "album_id int, title string, artist_id int"),
        "track": c(
            [(1, "T1", 1, 1, 0.99)],
            "track_id int, name string, album_id int, genre_id int, unit_price double",
        ),
        "customer": c(
            [
                (1, "Alice", "Smith", "USA", "CA", "LA"),
                (2, "Nora", "Null", None, None, "Nowhere"),
            ],
            "customer_id int, first_name string, last_name string,"
            " country string, state string, city string",
        ),
        "invoice": c(
            [(1, 1, D(2020, 1, 10), 1.98), (2, 2, D(2020, 2, 10), 0.99)],
            "invoice_id int, customer_id int, invoice_date timestamp, total double",
        ),
        "invoice_line": c(
            [(1, 1, 1, 0.99, 2), (2, 2, 1, 0.99, 1)],
            "invoice_line_id int, invoice_id int, track_id int,"
            " unit_price double, quantity int",
        ),
    }
    t = adapt_chinook_tables(chinook)
    assert t["customer"].count() == 2  # nobody dropped
    null_nation = t["nation"].filter("n_name IS NULL").collect()
    assert len(null_nation) == 1
    nk = null_nation[0]["n_nationkey"]
    nora = t["customer"].filter("c_custkey = 2").collect()[0]
    assert nora["c_nationkey"] == nk
