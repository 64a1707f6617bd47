"""Time-series regularization: bucket -> dense time grid -> forward fill.

The missing piece between event streams and ML feature matrices: events
arrive irregularly; models want one row per (key, time bucket) with the
last-known value carried forward.

Plan shape (all JVM, two shuffles):
  1. last event per (key, bucket)      — shuffle on (key, bucket)
  2. per-key bucket bounds + sequence() -> explode = the dense grid
  3. grid LEFT JOIN step-1, then last(value, ignoreNulls) over a running
     window per key — the forward fill. Running frame = single pass.

At 100 TB the grid explode is bounded by (keys x buckets), not events, and
the fill window shuffles once on key — no iterative or Python step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_data_lake_spark.operators.windows import top1_per_group


def time_grid_ffill(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    bucket_seconds: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """One row per (keys..., bucket) between each key's first and last
    event, with `value_col` = last observed value at or before that bucket.

    Returns keys + bucket_start_us + value (+ __observed flag).
    `tiebreak` columns make the per-bucket 'last event' deterministic when
    timestamps tie.
    """
    bucket_us = bucket_seconds * 1_000_000
    tiebreak = tiebreak or []

    b = (F.unix_micros(F.col(ts_col)) / bucket_us).cast("long")
    events = df.select(
        *keys, b.alias("__b"), F.col(ts_col).alias("__ts"), F.col(value_col).alias("__v"),
        *tiebreak,
    )
    last_per_bucket = top1_per_group(
        events,
        [*keys, "__b"],
        [F.col("__ts").desc(), *[F.col(c).desc() for c in tiebreak]],
    ).select(*keys, "__b", "__v")

    bounds = events.groupBy(*keys).agg(
        F.min("__b").alias("__b_min"), F.max("__b").alias("__b_max")
    )
    grid = bounds.select(
        *keys, F.explode(F.sequence("__b_min", "__b_max")).alias("__b")
    )

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__b").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        grid.join(last_per_bucket, on=[*keys, "__b"], how="left")
        .withColumn("__observed", F.col("__v").isNotNull())
        .withColumn("__filled", F.last("__v", ignorenulls=True).over(w))
    )
    return filled.select(
        *keys,
        (F.col("__b") * bucket_us).alias("bucket_start_us"),
        F.col("__filled").alias(value_col),
        F.col("__observed").alias("observed"),
    )


def time_grid_interpolate(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    bucket_seconds: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Dense grid with LINEAR interpolation between observations (the
    ffill's smooth sibling: gaps ramp between endpoints instead of
    stair-stepping; edges beyond the first/last observation clamp to it).

    Same grid/shuffle shape as time_grid_ffill plus one backward-looking
    and one forward-looking running window over the SAME key partitioning
    — still a single hash shuffle on the key, no Python, no iteration.
    """
    bucket_us = bucket_seconds * 1_000_000
    tiebreak = tiebreak or []

    b = (F.unix_micros(F.col(ts_col)) / bucket_us).cast("long")
    events = df.select(
        *keys, b.alias("__b"), F.col(ts_col).alias("__ts"), F.col(value_col).alias("__v"),
        *tiebreak,
    )
    last_per_bucket = top1_per_group(
        events,
        [*keys, "__b"],
        [F.col("__ts").desc(), *[F.col(c).desc() for c in tiebreak]],
    ).select(*keys, "__b", "__v")

    bounds = events.groupBy(*keys).agg(
        F.min("__b").alias("__b_min"), F.max("__b").alias("__b_max")
    )
    grid = bounds.select(
        *keys, F.explode(F.sequence("__b_min", "__b_max")).alias("__b")
    )

    back = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__b").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the next observation is the LAST one seen walking the grid backwards:
    # a currentRow..unboundedFollowing frame is recomputed per row (O(n^2)
    # per key), a running unboundedPreceding..currentRow frame is not
    fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__b").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_b = F.when(F.col("__v").isNotNull(), F.col("__b"))
    j = (
        grid.join(last_per_bucket, on=[*keys, "__b"], how="left")
        .withColumn("__observed", F.col("__v").isNotNull())
        .withColumn("__pv", F.last("__v", ignorenulls=True).over(back))
        .withColumn("__pb", F.last(obs_b, ignorenulls=True).over(back))
        .withColumn("__nv", F.last("__v", ignorenulls=True).over(fwd))
        .withColumn("__nb", F.last(obs_b, ignorenulls=True).over(fwd))
    )
    interp = (
        F.when(F.col("__pb").isNull(), F.col("__nv"))
        .when(F.col("__nb").isNull(), F.col("__pv"))
        .when(F.col("__nb") == F.col("__pb"), F.col("__pv"))
        .otherwise(
            F.col("__pv")
            + (F.col("__nv") - F.col("__pv"))
            * (F.col("__b") - F.col("__pb"))
            / (F.col("__nb") - F.col("__pb"))
        )
    )
    return j.select(
        *keys,
        (F.col("__b") * bucket_us).alias("bucket_start_us"),
        interp.alias(value_col),
        F.col("__observed").alias("observed"),
    )


def dtw_distance_col(a_col: str, b_col: str, length: int = 6):
    """Column: exact integer DTW distance between two fixed-`length`
    bigint-array columns (squared pointwise cost, full warping window).

    The DP recurrence is inherently sequential per pair, so it runs in an
    Arrow-batched pandas UDF — the sanctioned Python path: a Catalyst
    expression tree for the recurrence is exponential in `length`.
    Integer arithmetic end to end makes the result bit-exact and
    replayable by an external engine's unrolled-cell SQL
    (queries/events_queries._dtw_cells_sql)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    n = length

    @pandas_udf("long")
    def dtw(a, b):
        out = []
        for xs, ys in zip(a, b):
            x = [int(v) for v in xs]
            y = [int(v) for v in ys]
            dp = [[0] * n for _ in range(n)]
            for i in range(n):
                for j in range(n):
                    d = (x[i] - y[j]) * (x[i] - y[j])
                    if i == 0 and j == 0:
                        dp[i][j] = d
                    elif i == 0:
                        dp[i][j] = d + dp[i][j - 1]
                    elif j == 0:
                        dp[i][j] = d + dp[i - 1][j]
                    else:
                        dp[i][j] = d + min(
                            dp[i - 1][j], dp[i][j - 1], dp[i - 1][j - 1]
                        )
            out.append(dp[n - 1][n - 1])
        return pd.Series(out)

    return dtw(F.col(a_col), F.col(b_col))
