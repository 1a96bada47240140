"""Data-quality validation + drift profiling (SURVEY.md §2.3 V1-V9;
reference /root/reference/src/ml_pipeline/data_ingestion.py:112-166 and
dags/data_quality_dag.py:49-61).

Contract parity: same check names, same result dict shape
(``{"passed": bool, "checks": {...}}``), same
``ValueError(f"Data validation failed on checks: {failed}")``.

Execution: the reference runs 8 separate full-table passes; here every
check, the full-row duplicate check included (a distinct count over the
row as one struct), folds into ONE wide aggregate — one collect at any
scale. Every other buffer in that aggregate is primitive (sums, min/max,
avg), so Spark's one-distinct plan, which keeps those buffers per distinct
row, stays a plain hash aggregate. An object buffer (collect_set) there
turns it into an ObjectHashAggregate that falls back to sort: on 4 cores,
1M generated rows read from CSV took 7.6 s that way, against 4.2 s for the
old aggregate + ``dropDuplicates().count()`` and 2.9 s for this one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_ml_pipeline_spark.operators.generate import EXPECTED_COLUMNS


def validate_data(df: DataFrame) -> dict:
    """Run the reference's data-quality checks on a Spark DataFrame."""
    results: dict = {"passed": True, "checks": {}}
    cols = df.columns

    schema_valid = set(EXPECTED_COLUMNS).issubset(set(cols))

    # One wide aggregate for every row-scan check (V1, V2, V4-V8). V2 counts
    # distinct rows as one struct: a struct with null fields is itself
    # non-null and groups null == null, exactly like dropDuplicates().
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.struct(*cols)).alias("n_distinct"),
    ]
    aggs += [
        F.sum(F.col(c).isNull().cast("int")).alias(f"nulls_{i}")
        for i, c in enumerate(cols)
    ]
    if schema_valid:
        aggs += [
            F.min("tenure").alias("tenure_min"),
            F.max("tenure").alias("tenure_max"),
            F.min("monthly_charges").alias("charges_min"),
            F.avg("churn").alias("churn_rate"),
            # rows whose non-null label is neither 0 nor 1
            F.sum((~F.col("churn").isin(0, 1)).cast("int")).alias("churn_invalid"),
        ]
    stats = df.agg(*aggs).collect()[0]

    n_rows = stats["n_rows"]
    total_nulls = sum(stats[f"nulls_{i}"] or 0 for i in range(len(cols)))
    results["checks"]["no_missing_values"] = total_nulls == 0

    results["checks"]["no_duplicates"] = stats["n_distinct"] == n_rows

    results["checks"]["schema_valid"] = schema_valid

    if schema_valid:
        results["checks"]["tenure_range"] = (
            stats["tenure_min"] >= 0 and stats["tenure_max"] <= 100
        )
        results["checks"]["charges_positive"] = stats["charges_min"] >= 0
        results["checks"]["target_binary"] = not stats["churn_invalid"]
        results["checks"]["class_balance"] = 0.05 < stats["churn_rate"] < 0.95

    results["checks"]["sufficient_samples"] = n_rows >= 100

    results["passed"] = all(results["checks"].values())
    if not results["passed"]:
        failed = [k for k, v in results["checks"].items() if not v]
        raise ValueError(f"Data validation failed on checks: {failed}")

    return results


def drift_profile(df: DataFrame, numerical_cols: list[str], target: str = "churn") -> dict:
    """Per-column mean/std/null-fraction profile + target rate (V9;
    data_quality_dag.py:49-61) — one wide aggregate job."""
    aggs = []
    for c in numerical_cols:
        aggs += [
            F.avg(c).alias(f"{c}__mean"),
            F.stddev_samp(c).alias(f"{c}__std"),
            F.avg(F.col(c).isNull().cast("double")).alias(f"{c}__null_frac"),
        ]
    has_target = target in df.columns
    if has_target:
        aggs.append(F.avg(target).alias("__target_rate"))
    aggs.append(F.count(F.lit(1)).alias("__n_rows"))
    row = df.agg(*aggs).collect()[0].asDict()

    profile: dict = {
        "n_rows": row["__n_rows"],
        "columns": {
            c: {
                "mean": row[f"{c}__mean"],
                "std": row[f"{c}__std"],
                "null_fraction": row[f"{c}__null_frac"],
            }
            for c in numerical_cols
        },
    }
    if has_target:
        rate = row["__target_rate"]
        profile["target_rate"] = rate
        profile["imbalance_warning"] = not (0.05 < rate < 0.95)
    return profile
