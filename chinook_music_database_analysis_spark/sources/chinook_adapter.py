"""Chinook-schema adapter: run the whole engine on the reference's own
tables.

The registry queries are written against the driver's star schema
(customer/orders/lineitem/part/nation/region).  A user of the reference
repo has the Chinook schema instead (ref /root/reference/SQL_file.sql;
SURVEY.md §1.1) — this adapter maps it onto the engine's schema so
every registered query runs unchanged:

    Chinook                      engine
    -------                      ------
    customer                  -> customer (c_custkey, c_name, c_nationkey)
    customer.country          -> nation (n_nationkey dense-coded, n_name)
                                 + a single region
    invoice                   -> orders (total -> o_totalprice,
                                 invoice_date -> o_orderdate)
    invoice_line              -> lineitem (unit_price*quantity ->
                                 l_extendedprice, l_discount = 0, so the
                                 engine's revenue expression equals the
                                 reference's quantity*unit_price)
    track (+genre,album,artist)-> part (p_type = genre name, p_brand =
                                 artist name, p_name = track name)

Set ``CHINOOK_SPARK_NATION0=USA`` so the "NATION_0" filters mean USA
(ref:43).  Columns the engine never reads are filled with neutral
constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def adapt_chinook_tables(
    chinook: dict[str, DataFrame], brand_from: str = "artist"
) -> dict[str, DataFrame]:
    """Map Chinook-schema DataFrames onto the engine's table dict.

    ``chinook`` must contain: customer, invoice, invoice_line, track,
    genre, album, artist (the 7 tables the reference queries touch).
    Returns a dict usable anywhere the engine expects driver tables.

    ``brand_from`` selects what ``part.p_brand`` means: ``"artist"``
    (default — the artist-level reference queries) or ``"album"`` (the
    album-sales statements, e.g. top USA albums at SQL_file.sql:248).
    """
    if brand_from not in ("artist", "album"):
        raise ValueError(f"brand_from must be 'artist' or 'album', got {brand_from!r}")
    cust = chinook["customer"]
    inv = chinook["invoice"]
    il = chinook["invoice_line"]

    # Geo dims derived from the customer country domain (dense-coded).
    nation = (
        cust.select(F.col("country").alias("n_name"))
        .distinct()
        .withColumn(
            "n_nationkey",
            F.row_number().over(Window.orderBy("n_name")).cast("int") - 1,
        )
        .withColumn("n_regionkey", F.lit(0).cast("int"))
        .select("n_nationkey", "n_name", "n_regionkey")
    )
    region = nation.sparkSession.createDataFrame(
        [(0, "WORLD")], "r_regionkey int, r_name string"
    )

    customer = (
        # eqNullSafe: a NULL-country customer must keep its rows mapped
        # to the NULL-named nation the distinct() above created — the
        # reference's GROUP BY billing_country keeps NULL as its own
        # group, and a plain equi-join would silently DROP those
        # customers from every adapted query (r12 review).
        cust.join(nation, cust["country"].eqNullSafe(nation["n_name"]))
        .select(
            F.col("customer_id").cast("long").alias("c_custkey"),
            F.concat_ws(" ", "first_name", "last_name").alias("c_name"),
            F.col("n_nationkey").alias("c_nationkey"),
            F.lit(0.0).alias("c_acctbal"),
            F.coalesce(F.col("state"), F.lit("N/A")).alias("c_mktsegment"),
        )
    )

    orders = inv.select(
        F.col("invoice_id").cast("long").alias("o_orderkey"),
        F.col("customer_id").cast("long").alias("o_custkey"),
        F.lit("F").alias("o_orderstatus"),
        F.col("total").cast("double").alias("o_totalprice"),
        F.col("invoice_date").cast("timestamp").alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )

    # unit_price * quantity with discount 0 makes the engine's
    # l_extendedprice * (1 - l_discount) equal the reference's revenue.
    lineitem = il.join(
        inv.select("invoice_id", "invoice_date"), "invoice_id"
    ).select(
        F.col("invoice_id").cast("long").alias("l_orderkey"),
        F.col("track_id").cast("long").alias("l_partkey"),
        F.lit(0).cast("long").alias("l_suppkey"),
        F.col("invoice_line_id").cast("int").alias("l_linenumber"),
        F.col("quantity").cast("double").alias("l_quantity"),
        (F.col("unit_price") * F.col("quantity")).cast("double").alias("l_extendedprice"),
        F.lit(0.0).alias("l_discount"),
        F.lit(0.0).alias("l_tax"),
        F.lit("N").alias("l_returnflag"),
        F.lit("O").alias("l_linestatus"),
        F.col("invoice_date").cast("timestamp").alias("l_shipdate"),
    )

    part = (
        chinook["track"]
        .join(chinook["genre"].withColumnRenamed("name", "genre_name"), "genre_id", "left")
        .join(chinook["album"].withColumnRenamed("title", "album_title"), "album_id", "left")
        .join(chinook["artist"].withColumnRenamed("name", "artist_name"), "artist_id", "left")
        .select(
            F.col("track_id").cast("long").alias("p_partkey"),
            F.col("name").alias("p_name"),
            F.coalesce(
                F.col("artist_name" if brand_from == "artist" else "album_title"),
                F.lit("Unknown"),
            ).alias("p_brand"),
            F.coalesce(F.col("genre_name"), F.lit("Unknown")).alias("p_type"),
            F.lit(0).cast("int").alias("p_size"),
            F.col("unit_price").cast("double").alias("p_retailprice"),
        )
    )

    supplier = part.sparkSession.createDataFrame(
        [(0, "NONE", 0, 0.0)], "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    )

    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def mount_chinook(
    spark: SparkSession,
    chinook: dict[str, DataFrame],
    path: str,
    brand_from: str = "artist",
) -> str:
    """Write the adapted Chinook tables as ``{path}/{table}.parquet`` and
    return ``path``: a table directory like any other, so the whole
    query registry, the session cache and the DuckDB oracle
    (``Engine.validate``) run on it unchanged::

        sf_dir = mount_chinook(spark, my_chinook_tables, "/data/chinook")
        QUERIES["q02_top_parts_nation0"](spark, sf_dir)

    Re-mounting over the same ``path`` rewrites the files, which moves
    the session cache's snapshot.  Remember to set
    CHINOOK_SPARK_NATION0=USA (before import) so the nation filter
    means USA.
    """
    for name, df in adapt_chinook_tables(chinook, brand_from=brand_from).items():
        df.write.mode("overwrite").parquet(f"{path}/{name}.parquet")
    return path
