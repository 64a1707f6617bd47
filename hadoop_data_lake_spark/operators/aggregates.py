"""Aggregation operators: deterministic pivot counts and rollup helpers.

Reference surface (SURVEY.md §2.4): pivot with a fixed value list
(calculate_zone_report.py:23-25) and count/max/sum group-bys. The
collect_list(struct) ordered history (calculate_user_city.py:63-69) is
written inline where it is used: `queries/geo_queries.user_event_history`
and the `travel_array` of `pipelines/user_city`.

The fixed pivot value list is kept mandatory: it makes the operator a single
pass (no distinct-values pre-job) and the output schema static — both
properties you want on a 100 TB scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pivot_counts(
    df: DataFrame, keys: list[str], pivot_col: str, values: list[str], fill: int = 0
) -> DataFrame:
    """groupBy(keys).pivot(pivot_col, values).count() with nulls filled.

    Implemented as conditional aggregation (count-if per value) rather than
    the .pivot() API: identical result, but the plan is a single hash
    aggregate with no pivot-specific exchange, and it is exactly the
    `COUNT(*) FILTER (WHERE ...)` form an ANSI oracle uses.
    """
    aggs = [
        F.sum(F.when(F.col(pivot_col) == v, 1).otherwise(0)).alias(v) for v in values
    ]
    out = df.groupBy(*keys).agg(*aggs)
    if fill is not None:
        out = out.fillna(fill, subset=values)
    return out

