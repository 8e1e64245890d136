"""Data-quality remediation operators (SURVEY.md §2.10 D1/D2).

The reference *detects* duplicates and nulls (q01) and the docx
prescribes remediation: drop duplicate PKs, fill numeric nulls with 0
and categorical nulls with 'Unknown' (docx ¶2).  These operators apply
that remediation Spark-natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType


def drop_duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """Keep one row per key (D1 remediation).

    ``dropDuplicates`` keeps an arbitrary row per key; for reproducible
    pipelines we keep the row with the smallest tuple of remaining
    column values via a deterministic min-by aggregation when exact
    reproducibility matters — here the reference semantics only require
    *a* representative, so the native operator is used (it's the
    cheapest: partial dedup map-side, one shuffle on the key).
    """
    return df.dropDuplicates([key])


def fill_missing(df: DataFrame) -> DataFrame:
    """Fill nulls per the reference's remediation policy (D2):
    numerics -> 0, strings -> 'Unknown'."""
    numeric_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
    string_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
    out = df
    if numeric_cols:
        out = out.na.fill(0, subset=numeric_cols)
    if string_cols:
        out = out.na.fill("Unknown", subset=string_cols)
    return out


def null_report(df: DataFrame) -> DataFrame:
    """Per-column null counts — the generalized q01_nulls probe.
    Single pass, one row out.  Counts coalesce to 0 on an empty input
    (SUM over zero rows is NULL — r10 review)."""
    return df.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            ).alias(c)
            for c in df.columns
        ]
    )


def expectation_report(df: DataFrame, rules: dict[str, "F.Column"]) -> DataFrame:
    """Constraint-check report (Delta-Live-Tables-style expectations):
    one output row per rule — (rule, n_rows, n_violations,
    violation_rate).

    A row VIOLATES a rule when the predicate is false OR null (null
    comparisons must not silently pass).  All rules evaluate in ONE
    scan: a single global aggregate computes every violation count
    plus the row total, then ``stack`` unpivots the scalar row —
    no shuffle beyond the tiny partial->final agg, however many rules.

    Guards (r10 review): an empty rules dict would render invalid SQL
    (``stack(0, )``) — refused explicitly; rule names are escaped for
    the string literal, so a name containing a quote cannot break (or
    inject into) the stack expression; violation counts coalesce to 0
    on an empty input.
    """
    if not rules:
        raise ValueError("expectation_report: rules must be non-empty")
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.coalesce(
            F.sum(F.when(F.coalesce(rule, F.lit(False)), 0).otherwise(1)),
            F.lit(0),
        ).alias(f"_v_{i}")
        for i, rule in enumerate(rules.values())
    ]
    pairs = ", ".join(
        "'{}', _v_{}".format(name.replace("\\", "\\\\").replace("'", "\\'"), i)
        for i, name in enumerate(rules)
    )
    return (
        df.agg(*aggs)
        .select(
            "_n",
            F.expr(f"stack({len(rules)}, {pairs}) AS (rule, n_violations)"),
        )
        .select(
            "rule",
            F.col("_n").alias("n_rows"),
            "n_violations",
            # guarded: ANSI mode makes x/0 an ERROR, so an empty input
            # used to crash the report instead of rating 0
            F.when(
                F.col("_n") > 0,
                F.round(F.col("n_violations") / F.col("_n"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("violation_rate"),
        )
    )


def fk_violation_report(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    rule_name: str,
) -> DataFrame:
    """Referential-integrity expectation: child rows whose key has no
    parent (anti-join), reported in the same shape as
    :func:`expectation_report` so the two union into one report.

    The anti-join shuffles on the key (or broadcasts the deduped
    parent-key set if it fits — left to AQE); the two scalar aggregates
    cross-join into a single row.

    NULL child keys are NOT violations (r10 review): SQL FK semantics
    — and this report's DuckDB oracle's ``NOT IN`` — never flag a NULL
    foreign key (that is the null_report/fill_missing remediation's
    domain), while a bare left_anti would count every NULL-keyed row.
    """
    total = child.agg(F.count(F.lit(1)).alias("n_rows"))
    viol = (
        child.filter(F.col(child_key).isNotNull())
        .join(
            parent.select(F.col(parent_key).alias(child_key)).distinct(),
            child_key,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    return total.crossJoin(viol).select(
        F.lit(rule_name).alias("rule"),
        "n_rows",
        "n_violations",
        F.when(
            F.col("n_rows") > 0,
            F.round(F.col("n_violations") / F.col("n_rows"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("violation_rate"),
    )


def write_with_metrics(
    df: DataFrame, path: str, null_cols: tuple[str, ...] = ()
) -> dict:
    """Write ``df`` as Parquet while collecting quality metrics (row
    count + per-column null counts) from the SAME pass via
    ``df.observe`` — the observability pattern that replaces the
    "write, then re-scan to validate" double read.  At 100 TB the
    saved validation scan is the whole win: metrics accumulate on the
    executors during the write and cost nothing extra.

    Returns the metrics dict (``n_rows``, ``nulls_<col>``...).  Unlike
    an accumulator hack, Observation metrics are exactly-once per
    action — task retries do not double-count.
    """
    from pyspark.sql import Observation

    obs = Observation("write_metrics")
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in null_cols
    ]
    df.observe(obs, *metrics).write.mode("overwrite").parquet(path)
    return obs.get
