"""Single-pass table profiling — the grown-up version of the reference's
manual data-quality probes (``isnull().values.any()`` google_maps_api cells
9/15, ``nunique()`` pipeline .py:635): per-column null count, exact distinct
count, and min/max, computed in ONE aggregation over the table and reshaped
to a row per column.

Scale shape: a single scan feeding one global aggregate — Spark plans the
multiple DISTINCT aggregates via Expand (×|cols| row multiplication before
the partial agg), which is the exact-answer cost. min/max are computed in
the column's native type and cast to string only for the uniform report
schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Returns (col_name, n_nulls, n_distinct, min_value, max_value), one
    row per profiled column."""
    cols = cols or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__n_{c}"),
            F.countDistinct(F.col(c)).alias(f"__d_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n_{c}, __d_{c}, __min_{c}, __max_{c}" for c in cols
    )
    return row.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_nulls, n_distinct, min_value, max_value)"
        )
    )


def check_suite(df: DataFrame, checks: list[tuple[str, "F.Column", float]]) -> DataFrame:
    """Deequ-style data-quality constraint suite: every check is a
    (name, metric-aggregate-Column, threshold) triple; all metrics are
    computed in ONE aggregation pass over the table and reshaped to a row
    per check — (check, metric, threshold, passed).

    The metric Column must be an aggregate expression evaluating to a
    DOUBLE in [0, 1] (completeness / uniqueness / compliance ratios).
    ``passed`` compares the ROUNDED metric (6 dp) against the threshold so
    the verdict is bit-identical across engines regardless of partial-agg
    accumulation order.

    Scale shape: a single scan feeding one global aggregate — the same
    partial/final HashAggregate shape as any global count; adding checks
    adds aggregate buffers, never passes. DISTINCT-based metrics
    (uniqueness) plan via Expand like profile(); swap to
    approx_count_distinct at 100 TB when ±2% is acceptable.
    """
    aggs = [
        F.round(m.cast("double"), 6).alias(f"__m_{i}") for i, (_, m, _) in enumerate(checks)
    ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', __m_{i}, CAST({thr!r} AS DOUBLE)"
        for i, (name, _, thr) in enumerate(checks)
    )
    return row.select(
        F.expr(f"stack({len(checks)}, {stack_args}) AS (check, metric, threshold)")
    ).select(
        "check", "metric", "threshold", (F.col("metric") >= F.col("threshold")).alias("passed")
    )
