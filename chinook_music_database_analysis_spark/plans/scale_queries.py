"""Round-3 scale operators: mergeable sketches, anomaly scoring,
temperature resampling, exact stratified sampling, Z-order locality.

Same contract as extensions.py / curation_queries.py: every query
ships a DuckDB oracle generated from the SAME constants and integer
arithmetic the Spark side uses, so the dialects cannot drift.  The
themes here are the remaining 100 TB patterns:

- **Mergeable sketch rollups** (ev_hll_week_rollup): distinct counts
  that re-aggregate across grains without touching raw data — the
  pre-aggregated sketch-table pattern (store per-day sketches, union
  to any coarser grain).  Sketch bytes are engine-specific, so the
  driver gate is the q10b tolerance-boolean pattern.
- **Monitoring/anomaly scoring** (ev_anomaly_hours): z-scores from
  integer sufficient statistics (sum, sum-of-squares, count), never
  from engine variance built-ins whose accumulation order is
  unspecified — that choice is what makes the result bit-stable
  across engines.
- **Temperature (T=2) domain resampling** (cur_temperature_mix): the
  multilingual-mix flattening, with integer-quantized sqrt weights.
- **Exact per-stratum sampling** (cur_stratified_eval): exactly-n
  rows per group by content-addressed rank.
- **Z-order locality** (s13_zorder_locality): Morton codes as pure
  bitwise expressions; operators/layout.py has the clustered writer,
  tests/test_layout.py proves the two-dimensional row-group skipping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memo
from ..operators.curation import (
    TEMP_W_SCALE,
    stratified_take,
    temperature_sample,
)
from ..operators.layout import morton_code, morton_sql
from ..operators.sketch import HH_SUPPORT_K
from ..sources import load_tables
from .registry import register

#: temperature-mix sampling target: 30% of the corpus.
TEMP_TARGET_PCT = 30
#: stratified eval sample: exactly this many docs per source.
STRAT_N = 5
#: Morton bucket = top bits of the 32-bit code (z >> 20 -> 4096 cells).
Z_BUCKET_SHIFT = 20


# ---------------------------------------------------------------------------
# Mergeable HLL sketch rollup
# ---------------------------------------------------------------------------


@register(
    "ev_hll_week_rollup",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM events
    GROUP BY 1
    """,
)
def ev_hll_week_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per week from MERGED per-day HLL sketches
    (Apache DataSketches via hll_sketch_agg / hll_union_agg) — the
    pre-aggregated sketch-table pattern: at 100 TB you store one
    small sketch per (day, dimension) and answer distinct-count
    queries at ANY coarser grain by unioning sketches, never
    re-scanning raw events.  COUNT(DISTINCT) here is the verification
    harness only (same tolerance-boolean gate as q10b: sketch bytes
    are engine-specific, the bound is driver-enforced); a production
    reader uses the estimate alone.  Default lgConfigK=12 -> ~1.6%
    relative standard error; the gate allows max(5%, 8 users)."""
    events = load_tables(spark, sf_dir)["events"]
    day = events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    rolled = day.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = events.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    tol = F.greatest(F.col("exact_users") * 0.05, F.lit(8.0))
    return (
        rolled.join(exact, "week")
        .select(
            "week",
            "n_days",
            "exact_users",
            (F.abs(F.col("approx_users") - F.col("exact_users")) <= tol).alias(
                "within_tol"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Hourly anomaly z-scores
# ---------------------------------------------------------------------------


@register(
    "ev_anomaly_hours",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             CAST(SUM(n_events) AS BIGINT) AS s1,
             CAST(SUM(n_events * n_events) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, h.hour, h.n_events,
           CASE WHEN (s2 - s1 * s1 / CAST(c AS DOUBLE)) / c > 0
                THEN ROUND((h.n_events - s1 / CAST(c AS DOUBLE))
                           / SQRT((s2 - s1 * s1 / CAST(c AS DOUBLE)) / c), 4)
                ELSE 0.0 END AS z,
           CASE WHEN (s2 - s1 * s1 / CAST(c AS DOUBLE)) / c > 0
                THEN ABS(h.n_events - s1 / CAST(c AS DOUBLE))
                     > 2 * SQRT((s2 - s1 * s1 / CAST(c AS DOUBLE)) / c)
                ELSE FALSE END AS is_spike
    FROM hourly h JOIN stats s USING (event_type)
    """,
)
def ev_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-count anomaly flags per event type — the
    monitoring query a pipeline runs over its own ingest volumes.

    z-scores are derived from integer sufficient statistics
    (sum, sum-of-squares, count of the hourly counts) rather than an
    engine variance aggregate: fp summation order inside STDDEV is
    unspecified in every engine, while bigint sums are exact, so both
    dialects compute bit-identical doubles from identical integers.
    (At 100 TB grain counts fit comfortably: s2 overflows bigint only
    past ~3e9 events in one hour-type cell; widen to DECIMAL there.)
    Two hash aggregates (the second over the tiny hourly relation) and
    a broadcast join back — the raw table is shuffled once."""
    events = load_tables(spark, sf_dir)["events"]
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = hourly.groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    c_d = F.col("c").cast("double")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / c_d) / F.col("c")
    mu = F.col("s1") / c_d
    dev = F.col("n_events") - mu
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "hour",
            "n_events",
            F.when(var > 0, F.round(dev / F.sqrt(var), 4)).otherwise(0.0).alias("z"),
            F.when(var > 0, F.abs(dev) > 2 * F.sqrt(var))
            .otherwise(F.lit(False))
            .alias("is_spike"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature resampling / stratified eval
# ---------------------------------------------------------------------------


def _source_counts(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Per-source doc counts, collected once per (session, table set) —
    the ANALYZE pattern: domains are a config-sized set, so this is a
    tiny aggregate collected to O(domains) driver state, not a data
    materialization."""

    def counts() -> dict[str, int]:
        rows = (
            load_tables(spark, sf_dir)["documents"]
            .groupBy("source")
            .count()
            .collect()
        )
        return {r["source"]: r["count"] for r in rows}

    return memo("source_counts", spark, sf_dir, counts)


@register(
    "cur_temperature_mix",
    oracle=f"""
    WITH f AS (SELECT source, COUNT(*) AS n FROM documents
               WHERE source IS NOT NULL GROUP BY source),
    w AS (SELECT source, n,
                 CAST(FLOOR(SQRT(n) * {TEMP_W_SCALE}) AS BIGINT) AS wq FROM f),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                   CAST(SUM(wq) AS BIGINT) AS wsum FROM w),
    thr AS (SELECT source, n,
                   LEAST((65536 * ((total * {TEMP_TARGET_PCT} // 100) * wq // wsum))
                         // n, 65535) AS t16
            FROM w, tot)
    SELECT d.source,
           MIN(thr.n) AS n_in,
           COUNT(*) FILTER (
             WHERE substr(md5('temp|' || CAST(d.doc_id AS VARCHAR)), 1, 4)
                   < printf('%04x', thr.t16)
           ) AS n_kept
    FROM documents d JOIN thr ON d.source = thr.source
    GROUP BY d.source
    """,
)
def cur_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature T=2 (alpha=0.5) domain flattening: sample 30% of
    the corpus with per-source quotas proportional to sqrt(count), so
    dominant domains shrink and rare domains keep a larger share —
    the standard pre-training mix adjustment.  Thresholds derive from
    integer-quantized sqrt weights (operators/curation.py:
    temperature_thresholds), making the whole recipe bit-reproducible
    in SQL; membership is the usual content-addressed md5 bucket
    (zero-shuffle narrow filter — the one aggregate here is this
    query's own per-source report).

    NULL-source docs are excluded from the mix entirely (quotas AND
    totals): an unattributable doc must not shift the quota of any
    real domain, and the threshold ladder could never address it
    anyway (caught by the fuzz gate's NULL-injection corpus, r12;
    oracle filters in lockstep)."""
    docs = load_tables(spark, sf_dir)["documents"]
    counts = {
        s: n for s, n in _source_counts(spark, sf_dir).items() if s is not None
    }
    kept = temperature_sample(docs, counts, TEMP_TARGET_PCT)
    report = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    # n_in from the memoized ANALYZE scalars, not a second corpus
    # aggregate (r11 review) — the kept-side report is then this
    # query's only corpus aggregate, as the docstring claims
    n_in = spark.createDataFrame(
        sorted(counts.items()), "source string, n_in bigint"
    )
    return n_in.join(report, "source", "left").select(
        "source",
        "n_in",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )


@register(
    "cur_stratified_eval",
    oracle=f"""
    SELECT doc_id, source, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= {STRAT_N}
    """,
)
def cur_stratified_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly STRAT_N (5) held-out docs per source (the eval-set
    build):
    content-addressed rank inside each stratum, stable under appends
    of rows that hash higher.  Contrast with cur_sample's ~pct%
    membership — this is the equal-allocation form."""
    docs = load_tables(spark, sf_dir)["documents"]
    return stratified_take(docs, "source", "doc_id", STRAT_N).select(
        "doc_id", "source", "rn"
    )


# ---------------------------------------------------------------------------
# Z-order locality
# ---------------------------------------------------------------------------


@register(
    "s13_zorder_locality",
    oracle=f"""
    SELECT {morton_sql('l_partkey', 'l_suppkey')} >> {Z_BUCKET_SHIFT} AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM lineitem
    GROUP BY 1
    """,
)
def s13_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) curve buckets over (l_partkey, l_suppkey):
    per-curve-segment row counts and per-dimension min/max spans —
    the locality profile that makes two-dimensional clustering work
    (each bucket is narrow in BOTH keys, so a clustered writer gets
    row groups a 2-D box predicate can skip; operators/layout.py has
    the writer, tests/test_layout.py the footer-level proof).  The
    code is pure bitwise built-ins — whole-stage codegen, one hash
    aggregate, and the identical expression text runs in DuckDB."""
    li = load_tables(spark, sf_dir)["lineitem"]
    z = morton_code(F.col("l_partkey"), F.col("l_suppkey"))
    return (
        li.groupBy(F.shiftright(z, Z_BUCKET_SHIFT).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


# ---------------------------------------------------------------------------
# Repetition quality signals
# ---------------------------------------------------------------------------


@register(
    "tx_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ), t AS (
      SELECT doc_id, unnest(tk) AS tok FROM toks
    ), tf AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(MAX(c) AS BIGINT) AS top_tok
      FROM (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok)
      GROUP BY doc_id
    ), g AS (
      SELECT doc_id,
             unnest([array_to_string(tk[i:i+1], ' ')
                     for i in range(1, greatest(len(tk) - 1, 1) + 1)]) AS gram
      FROM toks
    ), gf AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct
      FROM g GROUP BY doc_id
    )
    SELECT tf.doc_id, tf.n_tokens,
           ROUND(CAST(top_tok AS DOUBLE) / n_tokens, 4) AS top_token_frac,
           ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 4) AS dup_2gram_frac,
           (CAST(top_tok AS DOUBLE) / n_tokens > 0.2
            OR 1.0 - CAST(n_distinct AS DOUBLE) / n_grams > 0.5) AS is_repetitive
    FROM tf JOIN gf USING (doc_id)
    """,
)
def tx_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-rule family): per-doc
    top-token mass and duplicate-bigram fraction, with a repetitive
    flag — the filter that catches keyword-stuffed / looping text that
    length and stopword ratios miss.  All ratios derive from integer
    token/bigram counts, so the doubles are bit-stable cross-engine
    (same design as ev_anomaly_hours).  Two doc-keyed hash aggregates
    over exploded tokens/bigrams joined at doc grain — linear, and at
    100 TB the explode feeds map-side partial counts, never a
    token-grain global shuffle beyond the doc key."""
    from ..operators.text import shingles_from_tokens, tokens_expr

    toks = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", tokens_expr().alias("tk")
    )
    tf = (
        toks.select("doc_id", F.explode("tk").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").cast("bigint").alias("n_tokens"),
            F.max("count").cast("bigint").alias("top_tok"),
        )
    )
    gf = (
        toks.select(
            "doc_id", F.explode(shingles_from_tokens("tk", k=2)).alias("gram")
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.countDistinct("gram").cast("bigint").alias("n_distinct"),
        )
    )
    top_frac = F.col("top_tok").cast("double") / F.col("n_tokens")
    dup_frac = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")
    return tf.join(gf, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(top_frac, 4).alias("top_token_frac"),
        F.round(dup_frac, 4).alias("dup_2gram_frac"),
        ((top_frac > 0.2) | (dup_frac > 0.5)).alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# Iterative graph analytics: PageRank over the brand co-purchase graph
# ---------------------------------------------------------------------------

_PAGERANK_EDGES_CTE = """li AS (
      SELECT l.l_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY l.l_orderkey ORDER BY l.l_linenumber, l.l_partkey) AS rid,
             p.p_brand AS v
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), pairs AS (
      SELECT LEAST(a.v, b.v) AS v1, GREATEST(a.v, b.v) AS v2, COUNT(*) AS n
      FROM li a
      JOIN li b ON a.l_orderkey = b.l_orderkey AND a.rid < b.rid
      WHERE a.v <> b.v
      GROUP BY 1, 2
    ), ed AS (
      SELECT v1 AS src, v2 AS dst, n FROM pairs
      UNION ALL
      SELECT v2 AS src, v1 AS dst, n FROM pairs
    )"""


def _brand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized brand co-purchase edge list (src, dst, w) — the s04
    affinity pairs as a weighted graph."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    rid = F.row_number().over(
        Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    )
    li = (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", rid.alias("rid"), F.col("p_brand").alias("v"))
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.rid") < F.col("b.rid")),
        )
        .filter(F.col("a.v") != F.col("b.v"))
        .select(
            F.least("a.v", "b.v").alias("v1"), F.greatest("a.v", "b.v").alias("v2")
        )
        .groupBy("v1", "v2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.select(
        F.col("v1").alias("src"), F.col("v2").alias("dst"), F.col("n").alias("w")
    ).unionByName(
        pairs.select(
            F.col("v2").alias("src"), F.col("v1").alias("dst"), F.col("n").alias("w")
        )
    )


from ..operators.graph import pagerank_oracle_sql as _pr_sql  # noqa: E402


@register(
    "s14_brand_pagerank",
    oracle="WITH " + _pr_sql(_PAGERANK_EDGES_CTE),
)
def s14_brand_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the brand co-purchase graph (edges =
    s04's affinity pairs, symmetrized) — iterative algorithms as
    DataFrame supersteps, three unrolled iterations in one lazy plan.
    All-integer rank arithmetic (operators/graph.py) is what lets the
    DuckDB oracle reproduce every rank exactly; a floating-point
    PageRank is partition-order-dependent and uncheckable.

    The converged rank relation is a deterministic artifact of the
    (lineitem, part) corpus — exactly the shape a production graph
    deployment stores beside the data rather than re-running BSP per
    query — so it is served from the fingerprint-guarded on-disk index
    store (the first session runs the supersteps; every later session
    reads the tiny (vertex, rank) table).  The edge list is memoized
    for the build path: every superstep plus the out-degree aggregate
    reference it, and without materialization the lazy plan re-runs
    the fact self-join once per reference."""
    from ..operators.graph import pagerank_integer
    from ..store import persisted

    def build() -> DataFrame:
        edges = memo(
            "brand_edges", spark, sf_dir, lambda: _brand_edges(spark, sf_dir),
            persist=True,
        )
        return pagerank_integer(edges)

    from ..operators.graph import PAGERANK_D_NUM, PAGERANK_ITERS, PAGERANK_SCALE

    return persisted(
        "brand_pagerank", spark, sf_dir, build, table=("lineitem", "part"),
        params=f"iters={PAGERANK_ITERS},d={PAGERANK_D_NUM},scale={PAGERANK_SCALE}",
    )


# ---------------------------------------------------------------------------
# Layout maintenance pipeline: partitioned z-order rewrite + pruned read
# ---------------------------------------------------------------------------

#: pruned-read predicate: one partition directory + a 2-D box.
ZP_YEAR = 1997
ZP_PART_LO, ZP_PART_HI = 200, 399
ZP_SUPP_LO, ZP_SUPP_HI = 20, 59


def _zordered_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuilt fact layout, served from the on-disk index store:
    lineitem rewritten Hive-partitioned by ship year and Z-ordered on
    (l_partkey, l_suppkey) within each partition directory — the
    OPTIMIZE-ZORDER maintenance job of a lakehouse, run once per corpus
    version (fingerprint-guarded like the ANN index).  Consumers read
    the rewritten layout: a query with a year predicate + a 2-D box
    prunes directories first, then row groups
    (tests/test_layout.py::test_layout_rebuild_prunes proves both on
    the actual store)."""
    from ..operators.layout import write_zordered_partitioned
    from ..store import persisted

    return persisted(
        "lineitem_zorder",
        spark,
        sf_dir,
        lambda: load_tables(spark, sf_dir)["lineitem"].withColumn(
            "l_ship_year", F.year("l_shipdate")
        ),
        table="lineitem",
        writer=lambda df, path: write_zordered_partitioned(
            df, path, "l_ship_year", "l_partkey", "l_suppkey"
        ),
        params="part=l_ship_year,z=l_partkey:l_suppkey",
        # UNCACHED: an InMemoryRelation would swallow the directory and
        # row-group pruning the rewritten layout exists to enable
        cache=False,
    )


def _register_pipe_layout() -> None:
    from ..functions.compat import SQL_REVENUE

    @register(
        "pipe_layout_rebuild",
        oracle=f"""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM({SQL_REVENUE}), 2) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE year(l_shipdate) = {ZP_YEAR}
          AND l_partkey BETWEEN {ZP_PART_LO} AND {ZP_PART_HI}
          AND l_suppkey BETWEEN {ZP_SUPP_LO} AND {ZP_SUPP_HI}
        GROUP BY l_returnflag
        """,
    )
    def pipe_layout_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end layout story: the partitioned + z-ordered fact
        rewrite (:func:`_zordered_lineitem`, one range shuffle, once
        per corpus version) followed by the pruned analytical read —
        partition predicate (directory pruning) + 2-D box on the
        z-ordered keys (row-group skipping) + decimal-exact rollup.
        The oracle runs the same predicate over the un-rewritten
        table: a layout rebuild must never change query answers."""
        from ..functions.compat import money, revenue_expr, round2

        fact = _zordered_lineitem(spark, sf_dir)
        return (
            fact.filter(
                (F.col("l_ship_year") == ZP_YEAR)
                & F.col("l_partkey").between(ZP_PART_LO, ZP_PART_HI)
                & F.col("l_suppkey").between(ZP_SUPP_LO, ZP_SUPP_HI)
            )
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(money("l_quantity").cast("decimal(18,4)")).alias("qty_d"),
                F.sum(revenue_expr()).alias("rev_d"),
            )
            .select(
                "l_returnflag",
                "n_rows",
                round2(F.col("qty_d")).alias("sum_qty"),
                round2(F.col("rev_d")).alias("revenue"),
            )
        )


_register_pipe_layout()


# ---------------------------------------------------------------------------
# Skew-stressed join (r5): the salted path exercised end-to-end
# ---------------------------------------------------------------------------

#: s15 hot-key mapping: user_ids with (id % MOD) < LIM collapse onto
#: key 0 — ~70% of the fact lands on ONE join key, the billing-country
#: style skew of the reference's own data shape (SURVEY §4).
SKEW_HOT_MOD = 10
SKEW_HOT_LIM = 7


def _skew_key_expr():
    """The ONE synthetic Zipf-collapse expression s15_skew_salted and
    ev_heavy_keys both run on (their docstrings promise the same
    corpus; r11 review found the two carried copies that could
    desynchronize)."""
    return (
        F.when(
            F.col("user_id") % SKEW_HOT_MOD < SKEW_HOT_LIM, F.lit(0).cast("long")
        )
        .otherwise(F.col("user_id"))
        .alias("skew_key")
    )


@register(
    "s15_skew_salted",
    oracle=f"""
    WITH e AS (
      SELECT CASE WHEN user_id % {SKEW_HOT_MOD} < {SKEW_HOT_LIM}
                  THEN 0 ELSE user_id END AS skew_key,
             user_id, value
      FROM events
    ), d AS (
      SELECT skew_key, COUNT(DISTINCT user_id) AS n_users
      FROM e GROUP BY skew_key
    )
    SELECT e.skew_key,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_value,
           MAX(d.n_users) AS n_users
    FROM e JOIN d USING (skew_key)
    GROUP BY e.skew_key
    """,
)
def s15_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-stressed join through the explicit salted path: ~70% of
    events collapse onto one synthetic hot key, then the fact joins a
    per-key dimension via operators.skew.salted_join — the hot key's
    rows spread across DEFAULT_SALTS reducers instead of serializing
    one task (plan-asserted in test_plans: the physical join keys are
    (skew_key, _salt) under disabled broadcast).  The salt only moves
    physical placement, so the oracle is the plain unsalted join; the
    downstream aggregations are decomposable (count/decimal-sum/max),
    which map-side partial combine already de-skews.  This registers
    the end-to-end query VERDICT r4 #6 asked for on top of the
    equivalence tests in test_skew_and_compat."""
    from ..functions.compat import money_sum, round2
    from ..operators.skew import salted_join

    ev = load_tables(spark, sf_dir)["events"].select(
        _skew_key_expr(), "user_id", "value"
    )
    dim = ev.groupBy("skew_key").agg(
        F.count_distinct("user_id").alias("n_users")
    )
    joined = salted_join(ev.drop("user_id"), dim, "skew_key")
    return joined.groupBy("skew_key").agg(
        F.count(F.lit(1)).alias("n_events"),
        round2(money_sum("value")).alias("total_value"),
        F.max("n_users").alias("n_users"),
    )


@register(
    "ev_heavy_keys",
    oracle=f"""
    WITH e AS (
      SELECT CASE WHEN user_id % {SKEW_HOT_MOD} < {SKEW_HOT_LIM}
                  THEN 0 ELSE user_id END AS skew_key
      FROM events
    ), c AS (
      SELECT skew_key, CAST(COUNT(*) AS BIGINT) AS cnt FROM e GROUP BY skew_key
    ), t AS (SELECT SUM(cnt) AS total FROM c)
    SELECT skew_key, cnt,
           CAST((cnt * 10000) // total AS BIGINT) AS share_q
    FROM c, t
    -- NULL keys stay in the denominator but are never emitted,
    -- mirroring heavy_keys' non-candidate NULL bucket (r11 review:
    -- a >1/{HH_SUPPORT_K} NULL share would have emitted a row the
    -- Spark side structurally cannot produce)
    WHERE cnt * {HH_SUPPORT_K} > total AND skew_key IS NOT NULL
    """,
)
def ev_heavy_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detection for the salted-join planner
    (operators/sketch.heavy_keys): Misra-Gries candidate sketch per
    partition (zero shuffle, bounded counters) + exact verify pass
    where every non-candidate row collapses into one NULL bucket — the
    corpus is never shuffled BY the skewed key, yet the reported keys
    and counts are exact (support 1/32 is coarser than the sketch's
    1/(capacity+1) recall guarantee, so no qualifying key can be
    missed).  Runs on the same synthetic Zipf collapse as
    s15_skew_salted: this query finds the hot key; s15 is what the
    planner does about it."""
    from ..operators.sketch import heavy_keys

    ev = load_tables(spark, sf_dir)["events"].select(_skew_key_expr())
    return heavy_keys(ev, "skew_key", support_k=HH_SUPPORT_K)


# ---------------------------------------------------------------------------
# Portable md5-HLL: the estimate ITSELF under the exact hash gate
# ---------------------------------------------------------------------------

def _hll_oracle(src_cte: str, group: str, key: str) -> str:
    """DuckDB oracle replicating operators/sketch.hll_distinct register
    by register: same md5-prefix hash, same trailing-zero rho, same
    exact-int64 2^(53-M) harmonic sum, same single final double
    division — so the ESTIMATE is under the exact value-hash gate, not
    a tolerance boolean (contrast ev_hll_week_rollup, whose DataSketches
    bytes are engine-specific)."""
    from ..operators.sketch import (
        HLL_ALPHA_NUM,
        HLL_LC_THRESHOLD,
        HLL_M,
        HLL_W_BITS,
        _hll_lc_table,
    )

    lc = ",".join(str(v) for v in _hll_lc_table())
    return f"""
    WITH src AS ({src_cte}),
    hashed AS (
      -- NULL keys excluded BEFORE hashing, mirroring
      -- operators.sketch.hll_registers' COUNT(DISTINCT) semantics
      -- (the r10 fix was Spark-side only — r11 review): an unfiltered
      -- NULL hashes to h=NULL and its register row biases the
      -- harmonic sum / empty-register count
      SELECT {group},
             CAST('0x' || substr(md5('hll|' || CAST({key} AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM src WHERE {key} IS NOT NULL
    ), rw AS (
      SELECT {group}, h % {HLL_M} AS j, h // {HLL_M} AS w FROM hashed
    ), regs AS (
      SELECT {group}, j,
             MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                      ELSE length(bin(w & -w)) END) AS m_j
      FROM rw GROUP BY 1, 2
    ), s AS (
      SELECT {group},
             CAST(SUM(1::BIGINT << (53 - m_j))
                  + ({HLL_M} - COUNT(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
             CAST({HLL_M} - COUNT(*) AS INTEGER) AS v
      FROM regs GROUP BY 1
    ), est AS (
      SELECT {group},
             CASE WHEN {HLL_ALPHA_NUM!r} / CAST(s AS DOUBLE)
                       <= {HLL_LC_THRESHOLD!r} AND v > 0
                  THEN CAST(([{lc}])[v] AS BIGINT)
                  ELSE CAST(ROUND({HLL_ALPHA_NUM!r} / CAST(s AS DOUBLE))
                            AS BIGINT)
             END AS hll_est
      FROM s
    ), ex AS (
      SELECT {group}, CAST(COUNT(DISTINCT {key}) AS BIGINT) AS n_exact
      FROM src GROUP BY 1
    )
    SELECT ex.{group}, n_exact, hll_est,
           CAST(ABS(hll_est - n_exact) * 10000 // n_exact AS BIGINT) AS err_bp
    FROM ex JOIN est USING ({group})
    """


def _hll_audit(sketch: DataFrame, exact: DataFrame, group: str) -> DataFrame:
    """Join the sketch estimate with the exact distinct count and
    report the basis-point error — the audit layout both HLL queries
    share.  The exact side exists only to measure the sketch; a
    production reader at 100 TB keeps the estimate and drops the
    COUNT(DISTINCT) (whose shuffle carries one row per distinct key —
    the cost the sketch exists to avoid)."""
    return exact.join(sketch, group).select(
        group,
        "n_exact",
        "hll_est",
        F.expr("CAST(abs(hll_est - n_exact) * 10000 DIV n_exact AS BIGINT)").alias(
            "err_bp"
        ),
    )


@register(
    "ev_hll_users",
    oracle=_hll_oracle(
        "SELECT event_type, user_id FROM events", "event_type", "user_id"
    ),
)
def ev_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the PORTABLE md5-HLL sketch
    (operators/sketch.hll_distinct), with the exact count and measured
    basis-point error alongside.  The sketch's shuffle state is a
    fixed <= 256 rows per event type (map-side max-combined) however
    many distinct users stream by; the estimate itself hash-matches
    the oracle because every step until the final division is exact
    integer arithmetic on both engines."""
    from ..operators.sketch import hll_distinct

    ev = load_tables(spark, sf_dir)["events"].select("event_type", "user_id")
    sketch = hll_distinct(ev, "user_id", "event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return _hll_audit(sketch, exact, "event_type")


@register(
    "tx_hll_vocab",
    oracle=_hll_oracle(
        """SELECT source, t.tok FROM (
             SELECT source, string_split_regex(trim(text), '\\s+') AS toks
             FROM documents
           ), unnest(toks) AS t(tok)""",
        "source",
        "tok",
    ),
)
def tx_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size (distinct whitespace tokens) per source via the
    portable md5-HLL — the corpus-statistics shape where the sketch
    matters most: the distinct TOKEN set is itself corpus-sized, so
    COUNT(DISTINCT)'s shuffle is a second corpus write, while the
    sketch's is <= sources x 256 rows.  Exact count and basis-point
    error ride along as the audit."""
    from ..operators.sketch import hll_distinct
    from ..operators.text import tokens_expr

    toks = (
        load_tables(spark, sf_dir)["documents"]
        .select("source", F.explode(tokens_expr()).alias("tok"))
    )
    sketch = hll_distinct(toks, "tok", "source")
    exact = toks.groupBy("source").agg(F.countDistinct("tok").alias("n_exact"))
    return _hll_audit(sketch, exact, "source")


@register(
    "tx_length_quantiles",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(n_tokens) AS min_n_tokens,
           MAX(n_tokens) AS max_n_tokens,
           ROUND(quantile_cont(n_tokens, 0.5), 4) AS p50,
           ROUND(quantile_cont(n_tokens, 0.9), 4) AS p90,
           ROUND(quantile_cont(n_tokens, 0.99), 4) AS p99
    FROM t WHERE n_tokens IS NOT NULL GROUP BY source
    """,
    # the histogram relation has no NULL bucket, so n_rows is the
    # MEASURED sample size; the filter keeps the oracle's COUNT (and
    # its all-NULL-group row set) aligned with that (fuzz gate, r12)
)
def tx_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution (min/max/p50/p90/p99) via
    the HISTOGRAM quantile operator (operators.sketch.
    histogram_quantiles): the corpus collapses to a
    <= sources x |length domain| histogram in the first map-side-
    combined aggregation, and the SQL-standard interpolated quantiles
    are read off its cumulative ranks — no per-group value buffer, so
    the plan is the same at 100 TB (Spark's own `percentile`
    materializes every group value in executor memory; the oracle's
    quantile_cont is the semantics this reproduces)."""
    from ..operators.sketch import histogram_quantiles
    from ..operators.text import tokens_expr

    t = load_tables(spark, sf_dir)["documents"].select(
        "source", F.size(tokens_expr()).cast("bigint").alias("n_tokens")
    )
    return histogram_quantiles(t, "n_tokens", "source")


# ---------------------------------------------------------------------------
# Count-min sketch frequency audit
# ---------------------------------------------------------------------------

#: tx_cms_tokens probes the exact top-N tokens against the sketch.
CMS_TOP_N = 20


def _cms_oracle() -> str:
    """DuckDB oracle replicating operators/sketch.cms_registers counter
    by counter: same per-depth md5 salt, same 60-bit hex prefix, same
    mod-width bucket, exact integer counts, min over depth rows — the
    whole estimator is integer arithmetic, so the ESTIMATE sits under
    the exact value-hash gate like the md5-HLL audits."""
    from ..operators.sketch import CMS_D, CMS_W

    return f"""
    WITH toks AS (
      SELECT t.tok FROM (
        SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents
      ), unnest(toks) AS t(tok)
    ), dd AS (SELECT unnest(range({CMS_D})) AS d),
    regs AS (
      SELECT d,
             CAST('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || '|' || tok),
                                 1, 15) AS BIGINT) % {CMS_W} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks, dd GROUP BY 1, 2
    ), ex AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact FROM toks
      GROUP BY tok ORDER BY n_exact DESC, tok ASC LIMIT {CMS_TOP_N}
    ), pb AS (
      SELECT ex.tok, ex.n_exact, dd.d,
             CAST('0x' || substr(md5('cms' || CAST(dd.d AS VARCHAR)
                                     || '|' || ex.tok), 1, 15)
                  AS BIGINT) % {CMS_W} AS bucket
      FROM ex, dd
    )
    SELECT pb.tok, MIN(pb.n_exact) AS n_exact,
           MIN(COALESCE(regs.cnt, 0)) AS cms_est,
           MIN(COALESCE(regs.cnt, 0)) - MIN(pb.n_exact) AS overest
    FROM pb LEFT JOIN regs USING (d, bucket)
    GROUP BY pb.tok
    """


@register("tx_cms_tokens", oracle=_cms_oracle())
def tx_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency estimates for the corpus's exact top-20 tokens
    via the PORTABLE md5 count-min sketch (operators/sketch.
    cms_registers) — the frequency-estimation sibling of the md5-HLL
    audits.  The sketch's shuffle carries a FIXED <= 4 x 1024 counter
    rows (map-side combined) however many distinct tokens stream by,
    and probe lookups broadcast that bounded relation — at 100 TB the
    sketch pass is the only corpus-wide read and its exchange is
    kilobytes.  The exact top-N side exists only as the audit (its
    token-keyed shuffle is the cost the sketch avoids); ``overest``
    is the measured collision mass, nonnegative by construction
    (count-min never underestimates)."""
    from ..operators.sketch import cms_lookup, cms_registers
    from ..operators.text import tokens_expr

    toks = load_tables(spark, sf_dir)["documents"].select(
        F.explode(tokens_expr()).alias("tok")
    )
    regs = cms_registers(toks, "tok")
    topk = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("tok").asc())
        .limit(CMS_TOP_N)
    )
    est = cms_lookup(regs, topk, "tok")
    return est.select(
        "tok",
        "n_exact",
        "cms_est",
        (F.col("cms_est") - F.col("n_exact")).cast("bigint").alias("overest"),
    )


#: the two cohorts whose distinct-user overlap ev_hll_overlap reports.
HLL_OVL_A = "view"
HLL_OVL_B = "purchase"


def _hll_est_sql(regs_cte: str) -> str:
    """Scalar-subquery SQL finishing a (j, m_j) register CTE into the
    estimate — same exact-int64 sum / table-served LinearCounting as
    operators/sketch.hll_estimate."""
    from ..operators.sketch import (
        HLL_ALPHA_NUM,
        HLL_LC_THRESHOLD,
        HLL_M,
        _hll_lc_table,
    )

    lc = ",".join(str(v) for v in _hll_lc_table())
    return f"""(
      SELECT CASE WHEN {HLL_ALPHA_NUM!r} / CAST(s AS DOUBLE)
                       <= {HLL_LC_THRESHOLD!r} AND v > 0
                  THEN CAST(([{lc}])[v] AS BIGINT)
                  ELSE CAST(ROUND({HLL_ALPHA_NUM!r} / CAST(s AS DOUBLE))
                            AS BIGINT) END
      FROM (SELECT CAST(SUM(1::BIGINT << (53 - m_j))
                        + ({HLL_M} - COUNT(*)) * (1::BIGINT << 53)
                        AS BIGINT) AS s,
                   CAST({HLL_M} - COUNT(*) AS INTEGER) AS v
            FROM {regs_cte})
    )"""


def _hll_overlap_oracle() -> str:
    from ..operators.sketch import HLL_M, HLL_W_BITS

    return f"""
    WITH src AS (
      SELECT event_type AS g, user_id AS k FROM events
      WHERE event_type IN ('{HLL_OVL_A}', '{HLL_OVL_B}')
    ), hashed AS (
      -- NULL keys excluded, mirroring hll_registers (r11 review)
      SELECT g, CAST('0x' || substr(md5('hll|' || CAST(k AS VARCHAR)), 1, 15)
                     AS BIGINT) AS h
      FROM src WHERE k IS NOT NULL
    ), rw AS (
      SELECT g, h % {HLL_M} AS j, h // {HLL_M} AS w FROM hashed
    ), regs AS (
      SELECT g, j, MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                            ELSE length(bin(w & -w)) END) AS m_j
      FROM rw GROUP BY 1, 2
    ), ra AS (SELECT j, m_j FROM regs WHERE g = '{HLL_OVL_A}'),
    rb AS (SELECT j, m_j FROM regs WHERE g = '{HLL_OVL_B}'),
    ru AS (
      SELECT COALESCE(ra.j, rb.j) AS j,
             GREATEST(COALESCE(ra.m_j, 0), COALESCE(rb.m_j, 0)) AS m_j
      FROM ra FULL JOIN rb ON rb.j = ra.j
    ), ests AS (
      SELECT {_hll_est_sql('ra')} AS est_a,
             {_hll_est_sql('rb')} AS est_b,
             {_hll_est_sql('ru')} AS est_union
    ), exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_inter FROM (
        SELECT user_id FROM events WHERE event_type = '{HLL_OVL_A}'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = '{HLL_OVL_B}'
      )
    )
    SELECT est_a, est_b, est_union,
           GREATEST(CAST(0 AS BIGINT), est_a + est_b - est_union) AS est_inter,
           n_exact_inter
    FROM ests, exact
    """


@register("ev_hll_overlap", oracle=_hll_overlap_oracle())
def ev_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-overlap estimation via HLL register algebra
    (operators/sketch.hll_overlap): distinct users doing BOTH
    '{a}' and '{b}' estimated as est(A) + est(B) - est(A ∪ B), with
    the union sketch formed by the element-wise max MERGE of the two
    register sets — the mergeable-summary move that answers
    intersection/union cardinality questions from 2 x 256 stored
    register rows instead of re-shuffling both cohorts' raw keys.
    The exact INTERSECT count rides along as the audit.""".format(
        a=HLL_OVL_A, b=HLL_OVL_B
    )
    from ..operators.sketch import hll_overlap

    ev = load_tables(spark, sf_dir)["events"].select("event_type", "user_id")
    est = hll_overlap(ev, "user_id", "event_type", HLL_OVL_A, HLL_OVL_B)
    # Exact INTERSECT audit in one pass (r12): pivot per-user presence
    # flags instead of scanning events twice and set-joining — same
    # set semantics (distinct user_ids, NULL = NULL, exactly what
    # INTERSECT computes), one scan + one shuffle on user_id.
    ex = (
        ev.filter(F.col("event_type").isin(HLL_OVL_A, HLL_OVL_B))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == HLL_OVL_A, F.lit(1))).alias("_a"),
            F.max(F.when(F.col("event_type") == HLL_OVL_B, F.lit(1))).alias("_b"),
        )
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact_inter"))
    )
    return est.crossJoin(F.broadcast(ex))


# ---------------------------------------------------------------------------
# BPE merge candidates (tokenizer vocab induction, first merge round)
# ---------------------------------------------------------------------------

#: tx_bpe_merges reports the top-N adjacent character pairs.
BPE_TOP_N = 20


@register(
    "tx_bpe_merges",
    oracle=f"""
    WITH toks AS (
      SELECT t.tok FROM (
        SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents
      ), unnest(toks) AS t(tok)
    ), wc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ), pr AS (
      SELECT p.pair, wc.cnt FROM wc,
        LATERAL (SELECT unnest(list_transform(range(1, len(wc.tok)),
                                              i -> wc.tok[i:i+1])) AS pair) p
      WHERE len(wc.tok) >= 2
    )
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_pair
    FROM pr GROUP BY pair
    ORDER BY n_pair DESC, pair ASC LIMIT {BPE_TOP_N}
    """,
)
def tx_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge candidates: the corpus's most frequent
    adjacent character pairs, weighted by word frequency — the
    statistic BPE tokenizer training (Sennrich et al., ACL 2016)
    greedily merges on, computed for the FIRST merge round (the full
    training loop re-counts after each merge and is driver-iterative
    like PageRank's BSP supersteps; one round is the registered,
    oracle-gated unit).

    The classic BPE trick is the scale story: pairs are enumerated
    over the DISTINCT-WORD DICTIONARY weighted by word counts, never
    over the corpus — after the token-count aggregate (corpus shuffle
    with map-side combine, the same relation tx_hll_vocab audits) the
    pair explode touches |vocabulary| rows, and the pair aggregate +
    TakeOrdered top-20 are dictionary-sized.  At 100 TB the vocabulary
    is millions of rows while the corpus is trillions — the dictionary
    split is the difference between a laptop-sized second stage and a
    second corpus pass."""
    # the cached dictionary every BPE stage shares (r11 review: this
    # query rebuilt an identical corpus tokenize+shuffle per run; the
    # len>=2 pair filter subsumes _bpe_wc's empty-token filter, so the
    # substitution is result-identical)
    wc = _bpe_wc(spark, sf_dir)
    pairs = wc.filter(F.length("tok") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), F.col("pair").asc())
        .limit(BPE_TOP_N)
    )


#: greedy merge rounds tx_bpe_encode learns AND applies.  Fixed and
#: small so the DuckDB oracle unrolls the exact same rounds as CTE
#: stages (the KMEANS_ITERS precedent).
BPE_ENC_ROUNDS = 6


_BPE_SEP_SQL = "chr(31)"


def _bpe_cte_prefix(rounds: int) -> str:
    """Shared unrolled-CTE prefix mirroring operators.text.bpe_train:
    the token count, the char-level r0 segmentation, and per round a
    pair-count CTE, a 1-row argmax CTE (same n DESC, x, y tie-break),
    and a list_reduce fold applying the merge — the identical
    fold-with-string-state the Spark side runs (text.bpe_merge_expr),
    so learned merges and every downstream total are bit-equal."""
    sep = _BPE_SEP_SQL
    sql = f"""
    WITH toks AS (
      SELECT t.tok FROM (
        SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents
      ), unnest(toks) AS t(tok)
    ), wc AS (
      -- len(tok) >= 1: empty tokens are not words (mirrors _bpe_wc)
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks
      WHERE len(tok) >= 1 GROUP BY tok
    ), r0 AS (
      SELECT tok, cnt,
             array_to_string(list_transform(range(1, len(tok) + 1),
                                            i -> tok[i:i]), {sep}) AS seq
      FROM wc
    )"""
    for r in range(1, rounds + 1):
        sql += f""", p{r} AS (
      SELECT s[i] AS x, s[i + 1] AS y, CAST(SUM(cnt) AS BIGINT) AS n_pair
      FROM (SELECT cnt, string_split(seq, {sep}) AS s FROM r{r - 1}),
           LATERAL (SELECT unnest(range(1, len(s))) AS i) ix
      GROUP BY 1, 2
    ), m{r} AS (
      SELECT x, y, n_pair FROM p{r} ORDER BY n_pair DESC, x ASC, y ASC LIMIT 1
    ), r{r} AS (
      SELECT tok, cnt,
             list_reduce(string_split(seq, {sep}),
               (acc, e) -> CASE WHEN e = m.y AND (acc = m.x
                                OR ends_with(acc, {sep} || m.x))
                           THEN acc || e ELSE acc || {sep} || e END) AS seq
      FROM r{r - 1}, m{r} m
    )"""
    return sql


def _bpe_encode_oracle(rounds: int) -> str:
    sep = _BPE_SEP_SQL
    sql = _bpe_cte_prefix(rounds)
    selects = [
        f"""SELECT CAST({r} AS INTEGER) AS rnd, m.x, m.y, m.n_pair,
           (SELECT CAST(SUM(cnt * len(string_split(seq, {sep}))) AS BIGINT)
            FROM r{r}) AS corpus_syms
        FROM m{r} m"""
        for r in range(1, rounds + 1)
    ]
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY rnd"


def _bpe_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (tok, cnt) dictionary — the one corpus shuffle every BPE
    stage shares (the same relation tx_hll_vocab audits)."""
    from ..operators.text import tokens_expr

    def build() -> DataFrame:
        toks = load_tables(spark, sf_dir)["documents"].select(
            F.explode(tokens_expr()).alias("tok")
        )
        # Empty tokens (trim+split of a whitespace-only text yields [''])
        # are not words: without this filter Spark's descending
        # sequence(1,0) used to fabricate a 2-empty-symbol segmentation
        # the oracle never sees, breaking the cross-engine hash on any
        # corpus containing a blank document.  Mirrored in
        # _bpe_cte_prefix's wc CTE.
        return (
            toks.filter(F.length("tok") >= 1)
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    return memo("bpe_wc", spark, sf_dir, build, persist=True)


def _bpe_seqs(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """[(rnd, x, y, n_pair, seq_df), ...] — the learned merge table
    plus the dictionary segmentation AFTER each merge, trained ONCE
    per (session, corpus).  ``seq_df`` is exactly the relation
    bpe_train persisted for that round — consumers reuse the training
    chain's cached relations rather than rebuilding (and re-persisting)
    an identical fold chain, so the session holds R dictionary-sized
    cached relations total, not 2R (the r9 leak: _bpe_merge_table and
    _bpe_seqs each built and persisted the chain)."""
    from ..operators.text import bpe_train

    return memo(
        "bpe_seqs", spark, sf_dir,
        lambda: [
            (m["rnd"], m["x"], m["y"], m["n_pair"], m["seq_df"])
            for m in bpe_train(_bpe_wc(spark, sf_dir), BPE_ENC_ROUNDS)
        ],
    )


@register("tx_bpe_encode", oracle=_bpe_encode_oracle(BPE_ENC_ROUNDS))
def tx_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction CLOSED LOOP (r9 — the missing half of
    tx_bpe_merges): learn BPE_ENC_ROUNDS merges by the classic greedy
    re-count (operators.text.bpe_train) and APPLY each to re-segment
    the corpus, reporting per round the merge learned (x, y, its pair
    count) and the corpus-wide symbol total after applying it — the
    compression the merge table buys, which is what the packing
    economics of cur_length_buckets consume.

    Scale shape: ONE corpus shuffle (the token count — the same
    relation tx_hll_vocab audits), then every merge round is a narrow
    fold + dictionary-sized pair aggregate over the DISTINCT-word
    dictionary weighted by counts; the per-round argmax is a 1-row
    ANALYZE-style collect (the PageRank-superstep pattern).  The
    corpus-total column multiplies per-word symbol counts by word
    frequency — corpus numbers without a second corpus pass."""
    from ..operators.text import BPE_SEP

    def build() -> DataFrame:
        # Collect each round's 1-row symbol total from the training
        # chain's persisted round relation and serve a LITERAL
        # DataFrame (r12 optimization): the former lazy union of R
        # 1-row aggregates embedded the whole fold chain's lineage, so
        # every consumer execution re-paid Catalyst analysis over the
        # R-round plan.  The totals are ANALYZE-pattern bounded
        # scalars (R rows, one per round — the same driver-pacing the
        # argmax collects already do); the values, types and order are
        # byte-identical to what the union computed.
        rows = []
        for rnd, x, y, n_pair, seq_df in _bpe_seqs(spark, sf_dir):
            total = (
                seq_df.agg(
                    F.sum(F.col("cnt") * F.size(F.split(F.col("seq"), BPE_SEP)))
                    .cast("bigint")
                    .alias("corpus_syms")
                ).collect()[0]["corpus_syms"]
            )
            # total collects as None when a round's seq_df is empty
            # (SUM over zero rows) — preserve the lazy-union form's
            # NULL corpus_syms instead of crashing the build (r12
            # advice).
            rows.append(
                (int(rnd), x, y, int(n_pair),
                 int(total) if total is not None else None)
            )
        return spark.createDataFrame(
            rows, "rnd int, x string, y string, n_pair bigint, corpus_syms bigint"
        ).orderBy("rnd")

    # Memoized per (session, sf_dir, table-set): the per-round total
    # collects run once; warm bench reps reuse the cached 6-row result.
    return memo("bpe_encode", spark, sf_dir, build, persist=True)


@register(
    "tx_bpe_source_tokens",
    oracle=_bpe_cte_prefix(BPE_ENC_ROUNDS)
    + f""", dt AS (
      SELECT d.doc_id, d.source, t.tok FROM (
        SELECT doc_id, source,
               string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
      ) d, unnest(d.toks) AS t(tok)
    ), dict AS (
      SELECT tok,
             CAST(len(string_split(seq, {_BPE_SEP_SQL})) AS BIGINT) AS n_syms
      FROM r{BPE_ENC_ROUNDS}
    )
    SELECT dt.source,
           CAST(COUNT(DISTINCT dt.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(dict.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(dict.n_syms) * 10000 // COUNT(*) AS BIGINT)
             AS syms_per_word_e4
    FROM dt JOIN dict ON dict.tok = dt.tok
    GROUP BY dt.source
    ORDER BY dt.source
    """,
)
def tx_bpe_source_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-tokenize the CORPUS with the learned merge table (the
    consumer half of tx_bpe_encode): per source, whitespace-word and
    BPE-subword volumes plus the fixed-point symbols-per-word rate —
    the numbers a packing/batching stage (cur_length_buckets,
    cur_pack) budgets with.

    Plan shape: corpus re-tokenization is a JOIN against the
    dictionary's final segmentation, never a per-document merge
    replay — the (tok -> n_syms after R merges) dictionary is
    dictionary-sized and broadcast-eligible, the corpus side is one
    token explode, and the rollup is |sources| rows.  At 100 TB:
    trillions of tokens stream once past a millions-row broadcast
    dictionary; the merge table itself was learned without a second
    corpus pass (tx_bpe_encode), and the memoized table means this
    query adds ZERO extra argmax collects in-session."""
    from ..operators.text import BPE_SEP, tokens_expr

    final_seq = _bpe_seqs(spark, sf_dir)[-1][4]
    dictionary = final_seq.select(
        "tok",
        F.size(F.split(F.col("seq"), BPE_SEP)).cast("bigint").alias("n_syms"),
    )
    dt = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "source", F.explode(tokens_expr()).alias("tok")
    )
    return (
        dt.join(dictionary, "tok")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
            F.expr("CAST(sum(n_syms) * 10000 div count(1) AS BIGINT)").alias(
                "syms_per_word_e4"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning audit
# ---------------------------------------------------------------------------


def _bloom_oracle() -> str:
    """DuckDB oracle replicating operators/sketch.bloom_build bit by
    bit (same per-hash md5 salts, same word/bit packing) — membership
    is pure integer arithmetic, so candidate counts including FALSE
    POSITIVES are under the exact value-hash gate.

    The upass join must be LEFT: NULL-user events have no upass row
    (hash of NULL is NULL), but they are still events — an INNER join
    here silently dropped them from n_events while the Spark side
    counted them (fuzz gate NULL corpus, r12).  NULL pass then counts
    as not-a-candidate, matching bloom_prune's NULL-rejects-key
    semi-join semantics."""
    from ..operators.sketch import BLOOM_BITS, BLOOM_K

    return f"""
    WITH allowed AS (
      SELECT c_custkey AS k FROM customer WHERE c_nationkey = 0
    ), hh AS (SELECT unnest(range({BLOOM_K})) AS i),
    pos AS (
      SELECT CAST('0x' || substr(md5('bloom' || CAST(i AS VARCHAR)
                                     || '|' || CAST(k AS VARCHAR)), 1, 15)
                  AS BIGINT) % {BLOOM_BITS} AS p
      FROM allowed, hh
    ), words AS (
      SELECT p // 32 AS word,
             bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
      FROM pos GROUP BY 1
    ), users AS (SELECT DISTINCT user_id FROM events),
    upass AS (
      SELECT u.user_id,
             BOOL_AND(COALESCE(w.bits
                 & (1::BIGINT << CAST(pp.p % 32 AS INTEGER)), 0) != 0) AS pass
      FROM users u,
           LATERAL (
             SELECT CAST('0x' || substr(md5('bloom' || CAST(i AS VARCHAR)
                       || '|' || CAST(u.user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % {BLOOM_BITS} AS p
             FROM hh
           ) pp
           LEFT JOIN words w ON w.word = pp.p // 32
      GROUP BY u.user_id
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN up.pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(SUM(CASE WHEN a.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(SUM(CASE WHEN up.pass THEN 1 ELSE 0 END)
                - SUM(CASE WHEN a.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos
    FROM events e
    LEFT JOIN upass up USING (user_id)
    LEFT JOIN allowed a ON a.k = e.user_id
    GROUP BY 1
    """


@register("ev_bloom_prune", oracle=_bloom_oracle())
def ev_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pruning audit: events pruned by a PORTABLE
    256-word Bloom filter built over the selective customer subset
    (nation 0), per event type — total rows, Bloom survivors, exact
    semi-join matches, and the measured false-positive count.

    The plan is the 100 TB shape Spark's AQE bloom pushdown automates
    JVM-internally, reproduced portably and auditable: the filter
    build map-side OR-combines to <= 256 bounded words, and the probe is
    BLOOM_K broadcast hash joins fused into the fact scan's codegen
    stage — the fact table is pruned BEFORE any exchange, so the exact
    semi-join that follows shuffles only the surviving fraction.  When
    the dim side outgrows the broadcast threshold this is the
    difference between shuffling the corpus and shuffling survivors;
    the fixed width here trades FP rate for size and the audit column
    measures exactly what that trade costs (size ~10 bits/key in
    production for ~1% FP at k=3)."""
    from ..operators.sketch import bloom_build, bloom_prune

    t = load_tables(spark, sf_dir)
    allowed = (
        t["customer"]
        .filter(F.col("c_nationkey") == 0)
        .select(F.col("c_custkey").alias("k"))
    )
    words = bloom_build(allowed, "k")
    ev = t["events"].select("event_type", "user_id")
    cand = bloom_prune(ev, "user_id", words).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    ex = (
        ev.join(
            F.broadcast(allowed.select(F.col("k").alias("user_id"))),
            "user_id",
            "left_semi",
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        tot.join(cand, "event_type", "left")
        .join(ex, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("n_exact", F.lit(0)).cast("bigint").alias("n_exact"),
            (
                F.coalesce("n_candidates", F.lit(0)) - F.coalesce("n_exact", F.lit(0))
            ).cast("bigint").alias("n_false_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching waste report
# ---------------------------------------------------------------------------


@register(
    "cur_length_buckets",
    oracle="""
    WITH t AS (
      SELECT GREATEST(CAST(len(string_split_regex(trim(text), '\\s+'))
                           AS BIGINT), 1) AS n_tokens
      FROM documents
    ), b AS (
      SELECT n_tokens,
             CAST(POWER(2, CEIL(LOG2(n_tokens))) AS BIGINT) AS bucket_cap
      FROM t
    )
    SELECT bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) * bucket_cap AS BIGINT) AS capacity,
           CAST((COUNT(*) * bucket_cap - SUM(n_tokens)) * 10000
                // (COUNT(*) * bucket_cap) AS BIGINT) AS padding_q
    FROM b GROUP BY bucket_cap
    """,
)
def cur_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report under power-of-2 length bucketing: every
    document rounds up to the next 2^k token capacity (the
    fixed-shape batches inference servers and non-packed training
    loaders allocate), and each bucket reports its doc count, real
    token volume, allocated capacity, and the 1e4 fixed-point padding
    fraction — the number that decides between plain bucketing and
    sequence packing (cur_pack eliminates this waste at the cost of
    attention-mask plumbing).  bucket_cap = 2^ceil(log2(n)) is exact
    on both engines: log2 of an int is correctly rounded IEEE and the
    ceil/pow round-trip lands on exact powers of two far below the
    double precision limit.  Plan: one narrow map + one bounded
    (<= log2(max_len) buckets) aggregate — nothing scales past the
    scan."""
    t = load_tables(spark, sf_dir)["documents"].select(
        F.greatest(
            F.size(F.split(F.trim("text"), r"\s+")).cast("bigint"), F.lit(1)
        ).alias("n_tokens")
    )
    b = t.withColumn(
        "bucket_cap",
        F.expr("CAST(POWER(2, CEIL(LOG2(n_tokens))) AS BIGINT)"),
    )
    return b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.count(F.lit(1)) * F.col("bucket_cap")).cast("bigint").alias("capacity"),
        F.expr(
            "CAST((count(1) * bucket_cap - sum(n_tokens)) * 10000"
            " DIV (count(1) * bucket_cap) AS BIGINT)"
        ).alias("padding_q"),
    )


# ---------------------------------------------------------------------------
# Distributed PCA (r9): one Arrow-vectorized moment pass + a driver-side
# power-iteration eigensolve (operators/similarity.py PCA section).
#
# The oracle runs the IDENTICAL algorithm as generated DuckDB CTEs: the
# covariance is snapped to the 1e-6 grid on both engines (their moment
# SUMs associate differently; everything after the snap is the same
# IEEE-754 ops in the same left-fold association, hence bit-equal), and
# the 2 x PCA_ITERS matrix-vector products are unrolled CTE stages the
# way the k-means and BPE oracles unroll their iterations.
# ---------------------------------------------------------------------------


def _pca_cov_prefix(
    d: int, src: str = "embeddings", sfx: str = "", lead: bool = True
) -> str:
    """Covariance-only CTE chain (moments -> quantized covariance +
    means + trace) — the shared base of the eigen chain and of
    consumers that need no power iteration (sim_dim_corr).

    ``src`` is the relation the moments scan (a table name or a
    parenthesized subquery — sim_pca_drift passes the base-slice
    filter); ``sfx`` suffixes every CTE name so two chains can live in
    one WITH (the drift oracle runs full + base side by side);
    ``lead=False`` emits a continuation (no WITH RECURSIVE keyword)."""
    idx = f"range(1, {d + 1})"
    kdx = f"range(1, {d * d + 1})"
    head = "\n    WITH RECURSIVE " if lead else ",\n    "
    return f"""{head}dimsq{sfx} AS MATERIALIZED (SELECT unnest({idx}) AS i),
    nn{sfx} AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM {src}),
    sums{sfx} AS MATERIALIZED (
      SELECT di.i AS i, SUM(CAST(e.embedding[di.i] AS DOUBLE)) AS s
      FROM {src} e, dimsq{sfx} di GROUP BY di.i
    ),
    sprods{sfx} AS MATERIALIZED (
      SELECT di.i AS i, dj.i AS j,
             SUM(CAST(e.embedding[di.i] AS DOUBLE)
                 * CAST(e.embedding[dj.i] AS DOUBLE)) AS ss
      FROM {src} e, dimsq{sfx} di, dimsq{sfx} dj GROUP BY di.i, dj.i
    ),
    sv{sfx} AS MATERIALIZED (SELECT list(s ORDER BY i) AS s FROM sums{sfx}),
    ssv{sfx} AS MATERIALIZED (
      SELECT list(ss ORDER BY (i-1)*{d}+j) AS ss FROM sprods{sfx}),
    muv{sfx} AS MATERIALIZED (
      SELECT list_transform({idx}, i ->
               floor(s[i] / n * 1e6 + 5e-1) / 1e6) AS mu
      FROM sv{sfx}, nn{sfx}
    ),
    rawv{sfx} AS MATERIALIZED (
      SELECT list_transform({kdx}, k ->
        (ss[k] - s[((k-1)//{d})+1] * s[((k-1)%{d})+1] / n) / n) AS raw
      FROM sv{sfx}, ssv{sfx}, nn{sfx}
    ),
    cmq{sfx} AS MATERIALIZED (
      SELECT list_transform({kdx}, k ->
        floor((raw[k] + raw[((k-1)%{d})*{d} + ((k-1)//{d}) + 1]) * 0.5e0
              * 1e6 + 5e-1) / 1e6) AS m
      FROM rawv{sfx}
    ),
    trv{sfx} AS MATERIALIZED (
      SELECT list_reduce(list_prepend(0.0e0,
               list_transform({idx}, i -> m[(i-1)*{d}+i])),
             (a,b) -> a + b) AS trace
      FROM cmq{sfx}
    )"""


def _pca_cte_prefix(
    d: int,
    iters: int,
    src: str = "embeddings",
    sfx: str = "",
    lead: bool = True,
) -> str:
    """Shared CTE chain: moments -> quantized covariance + means ->
    power iteration (v0 = all-ones, ``iters`` recursive steps) ->
    eig1 -> rank-1 deflation -> eig2 -> trace.  Every expression is
    the SQL transcription of operators.similarity.pca_power_model —
    the two must change in lockstep.  ``src``/``sfx``/``lead`` as in
    :func:`_pca_cov_prefix` (the drift oracle stacks two chains).

    Implementation notes that matter for the gate: every CTE is
    MATERIALIZED (DuckDB inlines plain CTEs per reference, which
    re-evaluates the corpus moment join once per consumer), and the
    iteration is a RECURSIVE CTE over (r, v) rather than ``iters``
    unrolled stages — the unrolled form spent ~70 ms/step in the
    binder (5.8 s at 80 steps) vs 1.8 s total recursive.  The matvec
    appears twice inside normalize (no lateral state in a recursive
    step); both evaluations are the identical expression, so the
    Python mirror's compute-once is value-equal."""
    idx = f"range(1, {d + 1})"
    kdx = f"range(1, {d * d + 1})"

    def matvec(m: str, v: str) -> str:
        return (
            f"list_transform({idx}, i -> list_reduce(list_prepend(0.0e0, "
            f"list_transform({idx}, j -> {m}[(i-1)*{d}+j] * {v}[j])), "
            f"(a,b) -> a + b))"
        )

    def power(tag: str, cm: str) -> str:
        mv = matvec("c.m", "p.v")
        return f"""
    {tag} AS (
      SELECT 0 AS r, list_transform({idx}, i -> 1.0e0) AS v
      UNION ALL
      SELECT p.r + 1,
             list_transform({mv}, x -> x / sqrt(list_reduce(list_prepend(
               0.0e0, list_transform({mv}, y -> y*y)), (a,b) -> a + b)))
      FROM {tag} p, {cm} c
      WHERE p.r < {iters}
    ),
    {tag}f AS MATERIALIZED (SELECT v FROM {tag} WHERE r = {iters})"""

    sql = _pca_cov_prefix(d, src, sfx, lead) + f""",{power(f"p1{sfx}", f"cmq{sfx}")},
    e1w{sfx} AS MATERIALIZED (
      SELECT {matvec("c.m", "p.v")} AS w FROM p1{sfx}f p, cmq{sfx} c),
    eig1{sfx} AS MATERIALIZED (
      SELECT pv.v AS v1,
             list_reduce(list_prepend(0.0e0,
               list_transform({idx}, i -> pv.v[i] * pw.w[i])),
             (a,b) -> a + b) AS lam1
      FROM p1{sfx}f pv, e1w{sfx} pw
    ),
    cm2{sfx} AS MATERIALIZED (
      SELECT list_transform({kdx}, k ->
        m[k] - lam1 * v1[((k-1)//{d})+1] * v1[((k-1)%{d})+1]) AS m
      FROM cmq{sfx}, eig1{sfx}
    ),{power(f"p2{sfx}", f"cm2{sfx}")},
    e2w{sfx} AS MATERIALIZED (
      SELECT {matvec("c.m", "p.v")} AS w FROM p2{sfx}f p, cm2{sfx} c),
    eig2{sfx} AS MATERIALIZED (
      SELECT pv.v AS v2,
             list_reduce(list_prepend(0.0e0,
               list_transform({idx}, i -> pv.v[i] * pw.w[i])),
             (a,b) -> a + b) AS lam2
      FROM p2{sfx}f pv, e2w{sfx} pw
    )"""
    return sql


def _pca_spectrum_oracle(d: int, iters: int) -> str:
    return _pca_cte_prefix(d, iters) + f"""
    SELECT comp, dim, loading_e4, eigval_e6, explained_pct_e4 FROM (
      SELECT CAST(1 AS INTEGER) AS comp, CAST(di.i AS INTEGER) AS dim,
             CAST(floor(e.v1[di.i] * 1e4 + 5e-1) AS BIGINT) AS loading_e4,
             CAST(floor(e.lam1 * 1e6 + 5e-1) AS BIGINT) AS eigval_e6,
             CAST(floor(e.lam1 / t.trace * 1e4 + 5e-1) AS BIGINT)
               AS explained_pct_e4
      FROM eig1 e, trv t, dimsq di
      UNION ALL
      SELECT CAST(2 AS INTEGER), CAST(di.i AS INTEGER),
             CAST(floor(e.v2[di.i] * 1e4 + 5e-1) AS BIGINT),
             CAST(floor(e.lam2 * 1e6 + 5e-1) AS BIGINT),
             CAST(floor(e.lam2 / t.trace * 1e4 + 5e-1) AS BIGINT)
      FROM eig2 e, trv t, dimsq di
    ) ORDER BY comp, dim
    """


def _pca_outliers_oracle(d: int, iters: int, top: int) -> str:
    proj = (
        "list_reduce(list_prepend(0.0e0, list_transform(range(1, %d), j -> "
        "(CAST(e.embedding[j] AS DOUBLE) - mu.mu[j]) * %s[j])), "
        "(a,b) -> a + b)" % (d + 1, "%s")
    )
    return _pca_cte_prefix(d, iters) + f""",
    sc AS (
      SELECT e.vec_id, e.label,
             {proj % 'e1.v1'} AS pc1,
             {proj % 'e2.v2'} AS pc2,
             e1.lam1 AS lam1, e2.lam2 AS lam2
      FROM embeddings e, muv mu, eig1 e1, eig2 e2
    )
    SELECT vec_id, label,
           CAST(floor(pc1 * 1e4 + 5e-1) AS BIGINT) AS pc1_e4,
           CAST(floor(pc2 * 1e4 + 5e-1) AS BIGINT) AS pc2_e4,
           CAST(floor((pc1 * pc1 / lam1 + pc2 * pc2 / lam2) * 1e4 + 5e-1)
             AS BIGINT) AS maha_e4
    FROM sc ORDER BY maha_e4 DESC, vec_id LIMIT {top}
    """


def _dim_corr_oracle(d: int, top: int) -> str:
    """Top-|corr| off-diagonal dimension pairs from the quantized
    covariance — needs only the cov prefix (no power iteration), so
    the oracle is one moment pass + a d*(d-1)/2 enumeration."""
    return _pca_cov_prefix(d) + f"""
    SELECT dim_i, dim_j, corr_e4 FROM (
      SELECT CAST(di.i AS INTEGER) AS dim_i, CAST(dj.i AS INTEGER) AS dim_j,
             CAST(floor(m[(di.i-1)*{d}+dj.i]
                        / sqrt(m[(di.i-1)*{d}+di.i] * m[(dj.i-1)*{d}+dj.i])
                        * 1e4 + 5e-1) AS BIGINT) AS corr_e4
      FROM cmq, dimsq di, dimsq dj
      WHERE di.i < dj.i
    ) ORDER BY abs(corr_e4) DESC, dim_i, dim_j LIMIT {top}
    """


#: dimension-correlation report depth.
DIM_CORR_TOP = 20

#: drift base slice: the "previous corpus version" is the first
#: BASE_FRAC of vectors by vec_id (append-only ingest order — the same
#: v1-is-a-prefix convention sim_ivf_append and dd_cdc_incremental
#: use).
PCA_DRIFT_BASE_FRAC = 0.8


def _pca_drift_oracle(d: int, iters: int) -> str:
    """Full-corpus chain + base-slice chain side by side (suffix "b"),
    then one row of drift statistics.  The base filter threshold is
    CAST(floor(n_full * 0.8) AS BIGINT) computed FROM the full chain's
    nn — the identical integer the Spark side derives from the
    memoized full model."""
    thr = f"(SELECT CAST(floor(n * {PCA_DRIFT_BASE_FRAC}e0) AS BIGINT) FROM nn)"
    base_src = f"(SELECT * FROM embeddings WHERE vec_id < {thr})"
    fold_cos = (
        f"list_reduce(list_prepend(0.0e0, list_transform(range(1, {d + 1}), "
        f"i -> eb.v1[i] * ef.v1[i])), (a,b) -> a + b)"
    )
    fold_shift = (
        f"list_reduce(list_prepend(0.0e0, list_transform(range(1, {d + 1}), "
        f"i -> (mf.mu[i] - mb.mu[i]) * (mf.mu[i] - mb.mu[i]))), "
        f"(a,b) -> a + b)"
    )
    return (
        _pca_cte_prefix(d, iters)
        + _pca_cte_prefix(d, iters, src=base_src, sfx="b", lead=False)
        + f"""
    SELECT CAST(nb.n AS BIGINT) AS n_base,
           CAST(nf.n AS BIGINT) AS n_full,
           CAST(floor(abs({fold_cos}) * 1e4 + 5e-1) AS BIGINT)
             AS principal_cos_e4,
           CAST(floor((ef.lam1 - eb.lam1) * 1e6 + 5e-1) AS BIGINT)
             AS lam1_delta_e6,
           CAST(floor((ef.lam1 / tf.trace - eb.lam1 / tb.trace) * 1e4 + 5e-1)
             AS BIGINT) AS explained_delta_e4,
           CAST(floor(sqrt({fold_shift}) * 1e4 + 5e-1) AS BIGINT)
             AS mean_shift_e4
    FROM nn nf, nnb nb, eig1 ef, eig1b eb, trv tf, trvb tb, muv mf, muvb mb
    """
    )


def _pca_base(spark: SparkSession, sf_dir: str) -> dict:
    """Memoized PCA model of the base slice (vec_id < floor(0.8 * N)):
    a second Arrow moment pass over the filtered corpus — the filter is
    pushed to the scan, so the pass reads only the slice."""
    import math as _math

    from ..operators.similarity import embedding_moment_partials, pca_power_model
    from .extensions import _emb_count

    def model() -> dict:
        # the threshold needs only the corpus COUNT — _pca()["n"] is
        # the same number but forces the full moment pass + eigensolve
        # (r11 review)
        thr = int(_math.floor(_emb_count(spark, sf_dir) * PCA_DRIFT_BASE_FRAC))
        emb = load_tables(spark, sf_dir)["embeddings"].filter(
            F.col("vec_id") < F.lit(thr)
        )
        parts = [
            (r["n"], r["s"], r["ss"])
            for r in embedding_moment_partials(emb).collect()
        ]
        return pca_power_model(parts)

    return memo("pca_base", spark, sf_dir, model)

#: outlier report depth.
PCA_OUTLIER_TOP = 20


def _pca(spark: SparkSession, sf_dir: str) -> dict:
    """Memoized PCA model per (session, corpus): the moment partials
    collect (one Arrow-vectorized pass, O(#batches * d^2) rows) and the
    driver eigensolve run once; every consumer reads the dict."""
    from ..operators.similarity import embedding_moment_partials, pca_power_model

    def model() -> dict:
        emb = load_tables(spark, sf_dir)["embeddings"]
        parts = [
            (r["n"], r["s"], r["ss"])
            for r in embedding_moment_partials(emb).collect()
        ]
        return pca_power_model(parts)

    return memo("pca_model", spark, sf_dir, model)


@register(
    "cur_bpe_length_buckets",
    oracle=_bpe_cte_prefix(BPE_ENC_ROUNDS)
    + f""", dt AS (
      SELECT d.doc_id, t.tok FROM (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
      ) d, unnest(d.toks) AS t(tok)
    ), dict AS (
      SELECT tok,
             CAST(len(string_split(seq, {_BPE_SEP_SQL})) AS BIGINT) AS n_syms
      FROM r{BPE_ENC_ROUNDS}
    ), docs AS (
      SELECT dt.doc_id, CAST(SUM(dict.n_syms) AS BIGINT) AS n_tokens
      FROM dt JOIN dict ON dict.tok = dt.tok GROUP BY dt.doc_id
    ), b AS (
      SELECT n_tokens,
             CAST(POWER(2, CEIL(LOG2(n_tokens))) AS BIGINT) AS bucket_cap
      FROM docs
    )
    SELECT bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_bpe_tokens,
           CAST(COUNT(*) * bucket_cap AS BIGINT) AS capacity,
           CAST((COUNT(*) * bucket_cap - SUM(n_tokens)) * 10000
                // (COUNT(*) * bucket_cap) AS BIGINT) AS padding_q
    FROM b GROUP BY bucket_cap
    """,
)
def cur_bpe_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cur_length_buckets measured in the unit that actually bounds a
    training batch: BPE SUBWORD tokens from the learned merge table
    (tx_bpe_encode), not whitespace words.  Power-of-2 bucket capacity,
    doc count, real subword volume, allocated capacity and the 1e4
    fixed-point padding fraction per bucket — whitespace-word buckets
    MISBIN documents whose words fragment unevenly under the
    tokenizer, so the packing decision should be made on these
    numbers.

    Plan shape: the same broadcast (tok -> n_syms) dictionary join as
    tx_bpe_source_tokens (corpus NEVER replays merges), one doc-keyed
    aggregate, then the bounded <= log2(max_len) bucket rollup; at
    100 TB the corpus streams once past a dictionary-sized broadcast,
    and the memoized merge table adds zero extra argmax collects
    in-session."""
    from ..operators.text import BPE_SEP, tokens_expr

    final_seq = _bpe_seqs(spark, sf_dir)[-1][4]
    dictionary = final_seq.select(
        "tok",
        F.size(F.split(F.col("seq"), BPE_SEP)).cast("bigint").alias("n_syms"),
    )
    dt = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", F.explode(tokens_expr()).alias("tok")
    )
    docs = (
        dt.join(dictionary, "tok")
        .groupBy("doc_id")
        .agg(F.sum("n_syms").cast("bigint").alias("n_tokens"))
    )
    b = docs.withColumn(
        "bucket_cap",
        F.expr("CAST(POWER(2, CEIL(LOG2(n_tokens))) AS BIGINT)"),
    )
    return b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_bpe_tokens"),
        (F.count(F.lit(1)) * F.col("bucket_cap")).cast("bigint").alias("capacity"),
        F.expr(
            "CAST((count(1) * bucket_cap - sum(n_tokens)) * 10000"
            " DIV (count(1) * bucket_cap) AS BIGINT)"
        ).alias("padding_q"),
    )


def _label_drift_oracle(d: int) -> str:
    """Per-label centroid drift between the base slice and the full
    corpus — plain grouped aggregates, no power iteration: per (label,
    dim) sums -> 1e-6-quantized mean lists -> fixed-order fold of the
    squared differences.  The base threshold is the same
    floor(count * 0.8) integer the PCA drift uses."""
    idx = f"range(1, {d + 1})"
    thr = "(SELECT CAST(floor(COUNT(*) * 0.8e0) AS BIGINT) FROM embeddings)"

    def means(name: str, where: str) -> str:
        return f"""
    {name}s AS (
      SELECT e.label, di.i AS i,
             SUM(CAST(e.embedding[di.i] AS DOUBLE)) AS s,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM embeddings e, (SELECT unnest({idx}) AS i) di
      {where}
      GROUP BY e.label, di.i
    ),
    {name} AS (
      SELECT label, MAX(n) AS n,
             list_transform(list(s ORDER BY i), x ->
               floor(x / MAX(n) * 1e6 + 5e-1) / 1e6) AS mu
      FROM {name}s GROUP BY label
    )"""

    return f"""
    WITH {means("mb", f"WHERE e.vec_id < {thr}")[5:]},{means("mf", "")}
    SELECT mf.label,
           CAST(mb.n AS BIGINT) AS n_base,
           CAST(mf.n AS BIGINT) AS n_full,
           CAST(floor(sqrt(list_reduce(list_prepend(0.0e0,
             list_transform({idx}, i ->
               (mf.mu[i] - mb.mu[i]) * (mf.mu[i] - mb.mu[i]))),
             (a,b) -> a + b)) * 1e4 + 5e-1) AS BIGINT) AS shift_e4
    FROM mf JOIN mb ON mb.label = mf.label
    ORDER BY mf.label
    """


def _spectrum_df(spark: SparkSession, model: dict, d: int) -> DataFrame:
    """The (comp, dim, loading_e4, eigval_e6, explained_pct_e4) rows of
    a PCA model — shared by the one-shot and the incrementally-folded
    spectrum queries (both hash against the same batch oracle)."""
    import math as _math

    rows = []
    for ci, (lam, v) in enumerate(model["comps"], start=1):
        for i in range(d):
            rows.append(
                (
                    ci,
                    i + 1,
                    _math.floor(v[i] * 1e4 + 5e-1),
                    _math.floor(lam * 1e6 + 5e-1),
                    _math.floor(lam / model["trace_q"] * 1e4 + 5e-1),
                )
            )
    return spark.createDataFrame(
        rows,
        "comp int, dim int, loading_e4 long, eigval_e6 long,"
        " explained_pct_e4 long",
    ).orderBy("comp", "dim")


def _register_pca() -> None:
    import math as _math

    from ..operators.similarity import EMB_DIM, PCA_ITERS

    @register("sim_pca_spectrum", oracle=_pca_spectrum_oracle(EMB_DIM, PCA_ITERS))
    def sim_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Leading-2 principal components of the embedding corpus:
        per (component, dim) the loading, the eigenvalue and the
        explained-variance share — the spectrum audit that tells a
        curation pipeline whether its embedding space has collapsed
        (one dominant direction) or stayed spread (the
        anisotropy/outlier checks sim_outlier_audit approximates
        per-vector, done properly on the second-moment matrix).

        Scale shape: ONE Arrow-vectorized corpus pass emits O(d^2)
        partials per batch (similarity.embedding_moment_partials —
        numpy X^T X per batch, state independent of N), the eigensolve
        is driver math on the collected 64x64 matrix (ANALYZE-pattern
        scalar, memoized per corpus), and the result is 2*d literal
        rows.  The oracle replays the identical quantize-then-
        power-iterate algorithm as unrolled CTEs, so every fixed-point
        output hash-matches bit-for-bit."""
        return _spectrum_df(spark, _pca(spark, sf_dir), EMB_DIM)

    @register(
        "sim_pca_outliers",
        oracle=_pca_outliers_oracle(EMB_DIM, PCA_ITERS, PCA_OUTLIER_TOP),
    )
    def sim_pca_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-20 embedding outliers by Mahalanobis distance in the
        top-2 principal subspace (pc^2/lambda summed over components)
        — the PCA-grounded companion of sim_outlier_audit's per-vector
        norm screen: catches vectors far along the DOMINANT directions
        even when their norms look ordinary.

        Scale shape: the model enters as broadcast literals (d + 2d +
        2 doubles from the memoized eigensolve), the projection is a
        zero-shuffle narrow map over the corpus (one F.aggregate fold
        per component), and the cut is ORDER BY + LIMIT ->
        TakeOrderedAndProject.  Fixed-point columns make the result
        engine-exact; ties break on vec_id."""
        from ..operators.similarity import pca_project_scores

        emb = load_tables(spark, sf_dir)["embeddings"]
        return (
            pca_project_scores(emb, _pca(spark, sf_dir))
            .orderBy(F.col("maha_e4").desc(), "vec_id")
            .limit(PCA_OUTLIER_TOP)
        )

    @register(
        "sim_dim_corr", oracle=_dim_corr_oracle(EMB_DIM, DIM_CORR_TOP)
    )
    def sim_dim_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Embedding dimension-correlation audit: the top-20
        off-diagonal |Pearson corr| pairs from the quantized
        covariance — redundant/entangled dimensions are the first
        thing a whitening or feature-pruning pass removes, and on an
        embedding corpus a high-|corr| pair flags a collapsed
        projection head.  Zero marginal corpus work: the same memoized
        moment pass as sim_pca_spectrum (ONE Arrow-vectorized scan per
        corpus); the d*(d-1)/2 pair enumeration is driver math on the
        64x64 matrix.  corr = cov_ij / sqrt(var_i * var_j) on the
        1e-6-snapped matrix, so both engines emit identical bits;
        order by |corr_e4| DESC with (dim_i, dim_j) tie-break."""
        model = _pca(spark, sf_dir)
        m, d = model["m_q"], EMB_DIM
        rows = []
        for i in range(d):
            for j in range(i + 1, d):
                corr = m[i * d + j] / _math.sqrt(m[i * d + i] * m[j * d + j])
                rows.append((i + 1, j + 1, _math.floor(corr * 1e4 + 5e-1)))
        rows.sort(key=lambda r: (-abs(r[2]), r[0], r[1]))
        return spark.createDataFrame(
            rows[:DIM_CORR_TOP], "dim_i int, dim_j int, corr_e4 long"
        )

    @register("sim_pca_drift", oracle=_pca_drift_oracle(EMB_DIM, PCA_ITERS))
    def sim_pca_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Embedding distribution drift between the base corpus slice
        (first 80% of vectors by vec_id — the append-only "previous
        version", the sim_ivf_append / dd_cdc_incremental convention)
        and the full corpus: principal-angle cosine between the two
        top components (|cos| near 1e4 = the dominant direction is
        stable; a drop flags rotation of the embedding space),
        eigenvalue and explained-share deltas (variance concentration
        drift), and the L2 shift of the mean vector (centroid drift).
        This is the embedding-level companion of pipe_corpus_diff's
        text-level diff — the monitor a training pipeline alerts on
        before re-clustering / re-indexing after an ingest.

        Scale shape: TWO Arrow moment passes (full — shared memoized
        with sim_pca_spectrum — and the filtered base slice, filter
        pushed to the scan), two driver eigensolves, one literal row
        out.  Every statistic is derived from the two bit-stable
        models, so the oracle's side-by-side CTE chains hash-match
        exactly."""
        from ..operators.similarity import _fold

        full, base = _pca(spark, sf_dir), _pca_base(spark, sf_dir)
        d = EMB_DIM
        (lam_f, v_f), (lam_b, v_b) = full["comps"][0], base["comps"][0]
        cos = _fold([v_b[i] * v_f[i] for i in range(d)])
        shift = _math.sqrt(
            _fold(
                [
                    (full["mu_q"][i] - base["mu_q"][i])
                    * (full["mu_q"][i] - base["mu_q"][i])
                    for i in range(d)
                ]
            )
        )
        row = (
            int(base["n"]),
            int(full["n"]),
            _math.floor(abs(cos) * 1e4 + 5e-1),
            _math.floor((lam_f - lam_b) * 1e6 + 5e-1),
            _math.floor(
                (lam_f / full["trace_q"] - lam_b / base["trace_q"]) * 1e4
                + 5e-1
            ),
            _math.floor(shift * 1e4 + 5e-1),
        )
        return spark.createDataFrame(
            [row],
            "n_base long, n_full long, principal_cos_e4 long,"
            " lam1_delta_e6 long, explained_delta_e4 long,"
            " mean_shift_e4 long",
        )

    @register(
        "sim_pca_incremental",
        oracle=_pca_spectrum_oracle(EMB_DIM, PCA_ITERS),
    )
    def sim_pca_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The STREAMING-MAINTAINED spectrum, driver-verified: the
        corpus folds in through three micro-batches (vec_id % 3 — any
        batching works: the moment sketch is mergeable), each appending
        its O(d^2) Arrow partials to a batch_id-idempotent log
        (streaming/moments.py — the foreachBatch + checkpoint
        writeStream wiring is exercised against a real file stream in
        tests/test_streaming.py), and the model rebuilt from the LOG
        must hash-match the ONE-SHOT batch oracle — the mergeability
        claim that makes continuous moment maintenance trustworthy is
        itself under the correctness gate, exactly like
        ev_scd2_incremental's fold-vs-rebuild equivalence.

        The fold works in a private mkdtemp dir (0700, rmtree'd at
        exit) and runs once per (session, corpus); at 100 TB the log
        is one 4160-double row per Arrow batch per micro-batch —
        re-model cost is log-sized, the raw stream is never re-read."""
        import atexit
        import os as _os_
        import shutil as _shutil_
        import tempfile

        from ..operators.similarity import pca_power_model
        from ..streaming.moments import apply_moments_batch, read_partials

        def model() -> dict:
            workdir = tempfile.mkdtemp(prefix="pca_inc_")
            atexit.register(_shutil_.rmtree, workdir, ignore_errors=True)
            log = _os_.path.join(workdir, "log")
            emb = load_tables(spark, sf_dir)["embeddings"]
            for i in range(3):
                apply_moments_batch(
                    emb.filter(F.col("vec_id") % 3 == i), i, log
                )
            parts = [
                (r["n"], r["s"], r["ss"])
                for r in read_partials(spark, log).collect()
            ]
            return pca_power_model(parts)

        return _spectrum_df(spark, memo("pca_inc", spark, sf_dir, model), EMB_DIM)


    @register("sim_label_drift", oracle=_label_drift_oracle(EMB_DIM))
    def sim_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-cluster centroid drift between the base slice (first
        80% by vec_id) and the full corpus: the L2 shift of each
        LABEL's mean embedding — where sim_pca_drift answers "did the
        space move", this answers "WHICH cluster moved", the
        actionable grain for re-clustering one cell instead of
        re-indexing everything.

        Unlike the spectrum family this is pure distributed grouped
        aggregation — two linear passes (base filter pushed to the
        scan), each one groupBy(label) with d sum columns (map-side
        combined, |labels| x d state), a broadcast-sized label join,
        and a fixed-order fold for the shift.  Means are
        1e-6-quantized before differencing, so both engines emit
        identical fixed-point shifts."""
        import math as _math2

        from .extensions import _emb_count

        d = EMB_DIM
        emb = load_tables(spark, sf_dir)["embeddings"]
        # count only — see _pca_base (r11: _pca()["n"] forced the full
        # moment pass + eigensolve under a "pure grouped aggregation"
        # docstring)
        thr = int(_math2.floor(_emb_count(spark, sf_dir) * PCA_DRIFT_BASE_FRAC))

        # ONE corpus pass (r12 optimization): the base slice's sums are
        # conditional sums inside the same groupBy(label) aggregate —
        # identical addends (base rows are a vec_id filter of the same
        # scan), identical per-branch quantization, so the means are
        # bit-equal to the former two-pass + join form while halving
        # the corpus scans and dropping the label-key join/shuffle.
        # NULL labels are filtered up front: the previous inner join on
        # label dropped them after aggregating, so the group never
        # survived anyway.  A base-empty label (n_b = 0) is dropped by
        # the same filter that the inner join used to apply.
        base = F.col("vec_id") < F.lit(thr)

        def _mu(n_col: str, pre: str):
            sums = F.array(*[F.col(f"{pre}{i}") for i in range(1, d + 1)])
            return F.transform(
                sums,
                lambda x: F.floor(x / F.col(n_col) * F.lit(1e6) + F.lit(5e-1))
                / F.lit(1e6),
            )

        agg = (
            emb.filter(F.col("label").isNotNull())
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).cast("double").alias("n"),
                F.count(F.when(base, F.lit(1))).cast("double").alias("n_b"),
                *[
                    F.sum(
                        F.element_at(F.col("embedding"), i).cast("double")
                    ).alias(f"s{i}")
                    for i in range(1, d + 1)
                ],
                *[
                    F.sum(
                        F.when(
                            base,
                            F.element_at(F.col("embedding"), i).cast("double"),
                        )
                    ).alias(f"b{i}")
                    for i in range(1, d + 1)
                ],
            )
        )
        mf = agg.filter(F.col("n_b") > 0).select(
            "label",
            "n",
            "n_b",
            _mu("n", "s").alias("mu"),
            _mu("n_b", "b").alias("mu_b"),
        )
        diff2 = F.aggregate(
            F.sequence(F.lit(1), F.lit(d)),
            F.lit(0.0),
            lambda acc, i: acc
            + (F.element_at("mu", i) - F.element_at("mu_b", i))
            * (F.element_at("mu", i) - F.element_at("mu_b", i)),
        )
        return (
            mf.select(
                "label",
                F.col("n_b").cast("long").alias("n_base"),
                F.col("n").cast("long").alias("n_full"),
                F.floor(F.sqrt(diff2) * F.lit(1e4) + F.lit(5e-1))
                .cast("long")
                .alias("shift_e4"),
            )
            .orderBy("label")
        )


_register_pca()

