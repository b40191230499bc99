"""Aggregation / audit operators (SURVEY.md §2.5: op26-op32; §2.8 setops).

Audits reproduce the reference's dbt schema tests
(firmable_dbt/models/abr_companies_quality.yml:6-13) as DataFrame
programs that return a *violation frame* — empty means pass — so the
same operator serves CI assertion and production monitoring.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def group_counts(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """op26 — per-group counts (map-side partial agg then one shuffle)."""
    return df.groupBy(*keys).agg(F.count("*").alias("cnt"))


def argmax_per_group(
    df: DataFrame, keys: Sequence[str], value_col: str, arg_col: str
) -> DataFrame:
    """op28 — per-group (max, argmax) via max_by with deterministic ties.

    max_by is a single-pass partial aggregate (no window shuffle + sort)
    — the cheap form of op33 when only the argmax is needed. Tie-break:
    max_by in Spark is nondeterministic on ties, so the struct-ordering
    trick pins it: max of struct(value, arg) compares lexicographically.
    """
    s = F.max(F.struct(F.col(value_col), F.col(arg_col))).alias("_s")
    return (
        df.groupBy(*keys)
        .agg(s)
        .select(
            *keys,
            F.col("_s")[value_col].alias(f"max_{value_col}"),
            F.col("_s")[arg_col].alias(f"argmax_{arg_col}"),
        )
    )


def distinct_key_union(
    a: DataFrame, a_col: str, b: DataFrame, b_col: str, *, alias: str = "key"
) -> DataFrame:
    """op29/op37 — sorted distinct union of key sets.

    reference: entity_matching_tfidf.py:192 (block universe).
    """
    return (
        a.select(F.col(a_col).alias(alias))
        .union(b.select(F.col(b_col).alias(alias)))
        .distinct()
        .orderBy(alias)
    )


def uniqueness_violations(df: DataFrame, key: str) -> DataFrame:
    """op30 — dbt `unique` test: keys occurring more than once.

    reference: firmable_dbt/models/abr_companies_quality.yml:6-10.
    Empty result => pass.
    """
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def notnull_violation_counts(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """op31 — dbt `not_null` test: per-column null counts (0 => pass).

    reference: firmable_dbt/models/abr_companies_quality.yml:8-13.
    Single-pass conditional aggregation + unpivot to (column, null_count)
    rows — one job for any number of audited columns.
    """
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).alias(c) for c in columns
    ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', {c}" for c in columns)
    return wide.selectExpr(
        f"stack({len(columns)}, {stack_expr}) as (column_name, null_count)"
    )


def quality_metrics(
    df: DataFrame,
    *,
    run_id: str,
    required_cols: Sequence[str],
    unique_key: str,
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """op32 — quality-metric rows (name, value, threshold, status).

    reference: sql/schema_postgres.sql:83-91; metric taxonomy
    ETL_PIPELINE_AUS/README.md:213-218 (completeness / uniqueness).

    Emitted metrics: row_count, completeness_pct per required column,
    uniqueness_pct of the key. One aggregation job; unpivoted via stack.
    """
    thresholds = thresholds or {}
    aggs: list[Column] = [F.count("*").cast("double").alias("row_count")]
    for c in required_cols:
        aggs.append(
            (F.lit(100.0) * F.sum(F.col(c).isNotNull().cast("long")) / F.count("*")).alias(
                f"completeness_{c}"
            )
        )
    aggs.append(
        (F.lit(100.0) * F.count_distinct(F.col(unique_key)) / F.count("*")).alias(
            f"uniqueness_{unique_key}"
        )
    )
    wide = df.agg(*aggs)
    metric_names = (
        ["row_count"]
        + [f"completeness_{c}" for c in required_cols]
        + [f"uniqueness_{unique_key}"]
    )
    stack_expr = ", ".join(
        f"'{m}', round({m}, 2)" for m in metric_names
    )
    long = wide.selectExpr(
        f"stack({len(metric_names)}, {stack_expr}) as (metric_name, metric_value)"
    )
    thr = F.create_map(
        *[x for m in metric_names for x in (F.lit(m), F.lit(float(thresholds.get(m, 0.0))))]
    )
    return long.select(
        F.lit(run_id).alias("pipeline_run_id"),
        "metric_name",
        "metric_value",
        F.element_at(thr, F.col("metric_name")).alias("threshold_value"),
        F.when(
            F.col("metric_value") >= F.element_at(thr, F.col("metric_name")), F.lit("pass")
        )
        .otherwise(F.lit("fail"))
        .alias("status"),
    )


def union_frames(frames: Sequence[DataFrame], *, distinct: bool = False) -> DataFrame:
    """op38/op39 — union by name with missing-column tolerance.

    reference: entity_matching_optimized.py:97 (pd.concat),
    entity_matching.py:65-66 (combine + dedup).
    """
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out.distinct() if distinct else out


def k_anonymity_violations(
    df: DataFrame, quasi_cols: Sequence[str], k: int
) -> DataFrame:
    """Privacy audit: quasi-identifier combinations shared by fewer
    than ``k`` rows — the groups a k-anonymity release would have to
    suppress or generalize (Sweeney, "k-anonymity: a model for
    protecting privacy", 2002). Returns the violating combinations
    with their group sizes.

    The governance sibling of the uniqueness/not-null audits: one
    partial-aggregated groupBy on the quasi-identifier key; the HAVING
    filter runs post-aggregation on the (small) group frame, so no
    second pass over the data.
    """
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count("*").alias("group_size"))
        .filter(F.col("group_size") < k)
    )
