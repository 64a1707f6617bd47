"""As-of (point-in-time) join.

Spark has no native as-of join; the reference has none either, but any
time-series datamart needs it. Three implementations:

1. `asof_join` — the scale path, pure JVM: union both sides tagged by
   origin, one shuffle+sort on (key, ts), then a running
   `last(<right payload>, ignoreNulls)` window carries the most recent
   right row forward into each left row. O(n log n) per key, whole-stage
   codegen end to end, zero Python in the hot path. (The classic
   "union + last_value" point-in-time pattern used by Flink temporal joins
   and kdb-style aj implementations.)

2. `asof_join_pandas` — cogrouped `applyInPandas` + `pd.merge_asof` per key
   group. Arrow-batched, but pays one Python round-trip per key group —
   keep for cross-checking and for payloads too wide to pack in a struct.

3. `asof_join_sql` — equi-join + argmax fallback. O(candidates); fine when
   the per-key right side is small, used for oracle cross-checks.

Semantics (direction='backward', the common case): for each left row, the
single right row with the greatest right_ts <= left_ts within the same key
(inclusive; equal-timestamp ties resolve to the max of the remaining right
columns, matching pd.merge_asof after a stable secondary sort); left rows
with no match survive with nulls (left outer).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join via union + running last(ignoreNulls) window.

    direction='backward' (default): greatest right_ts <= left_ts.
    direction='forward': smallest right_ts >= left_ts (the same running
    last(ignoreNulls) over the REVERSED sort order, which sees every row
    at or after the current one; tie-break to the MIN struct — mirroring
    pd.merge_asof(direction='forward')).
    direction='nearest': whichever of the backward/forward candidates is
    closer in absolute time; equidistant ties resolve to the backward row
    (pd.merge_asof(direction='nearest') behavior). Both running frames
    share one shuffle; the forward one re-sorts the partition in reverse
    order. Every frame is unboundedPreceding..currentRow — O(n) per key
    after the sort, where a currentRow..unboundedFollowing frame is
    recomputed per row (O(n^2) per key).

    Plan shape: Union -> Exchange hashpartitioning(on) -> Sort(on, __t,
    __side, __r), ascending or descending -> Window(last over a running
    frame) -> Filter(left side). One shuffle total; the window frame is
    running, so Spark evaluates it in a single pass per partition.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    # Fail loudly instead of silently emitting duplicate/ambiguous columns:
    # every non-key name must be disjoint, and the temp names are reserved.
    overlap = (set(left.columns) & set(right.columns)) - {on}
    if overlap:
        raise ValueError(
            f"asof_join requires disjoint non-key columns; both sides have "
            f"{sorted(overlap)} — alias one side before joining"
        )
    reserved = {"__t", "__side", "__r", "__m", "__mb", "__mf"} & (
        set(left.columns) | set(right.columns)
    )
    if reserved:
        raise ValueError(
            f"asof_join reserves temp column names {sorted(reserved)}; rename them"
        )

    left_cols = list(left.columns)
    right_cols = [c for c in right.columns if c != on]

    # Right payload packed into ONE struct so a single last(ignoreNulls)
    # carries a consistent row (per-column lasts could mix rows when some
    # right columns are null). right_ts leads the struct so struct ordering
    # resolves equal-__t ties exactly like merge_asof's secondary sort.
    r_struct = F.struct(
        F.col(right_ts), *[F.col(c) for c in right_cols if c != right_ts]
    )
    # side tag ordering makes the equal-timestamp right row fall INSIDE the
    # frame for both directions: backward keeps right rows before the left
    # row (0 < 1), forward keeps them after (1 > 0). nearest uses the
    # backward layout: an equal-timestamp right is then a zero-distance
    # backward candidate, which wins every tie — same net result.
    right_side = 0 if direction in ("backward", "nearest") else 1
    ru = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(right_side).alias("__side"),
        r_struct.alias("__r"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in left.schema.fields if f.name != on],
    )
    r_struct_type = ru.schema["__r"].dataType
    lu = left.select(
        F.col(on),
        F.col(left_ts).alias("__t"),
        F.lit(1 - right_side).alias("__side"),
        F.lit(None).cast(r_struct_type).alias("__r"),
        *[F.col(c) for c in left_cols if c != on],
    )

    u = lu.unionByName(ru)
    order = [F.col("__t"), F.col("__side"), F.col("__r")]
    # asc (nulls first) and desc (nulls last) are exact mirror orders, so a
    # running frame over `rev` covers the rows at or after the current one
    # in `base` order
    base = (
        Window.partitionBy(on)
        .orderBy(*[c.asc() for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rev = (
        Window.partitionBy(on)
        .orderBy(*[c.desc() for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if direction == "nearest":
        matched = u.withColumn(
            "__mb", F.last("__r", ignorenulls=True).over(base)
        ).withColumn("__mf", F.last("__r", ignorenulls=True).over(rev))
        # Distance works for timestamp AND plain numeric ts columns.
        is_ts = u.schema["__t"].dataType.simpleString() in ("timestamp", "timestamp_ntz")

        def _num(c):
            return F.unix_micros(c.cast("timestamp")) if is_ts else c.cast("double")

        t_us = _num(F.col("__t"))
        db = t_us - _num(F.col("__mb")[right_ts])
        df_ = _num(F.col("__mf")[right_ts]) - t_us
        pick_nearest = (
            F.when(F.col("__mb").isNull(), F.col("__mf"))
            .when(F.col("__mf").isNull(), F.col("__mb"))
            .when(db <= df_, F.col("__mb"))  # tie -> backward, per merge_asof
            .otherwise(F.col("__mf"))
        )
        matched = matched.withColumn("__m", pick_nearest)
    else:
        # backward: right rows at the same instant sort BEFORE the left row
        # => the running last() sees them (inclusive <=); struct asc means
        # last() takes the max (right_ts, tiebreaks...) among equals.
        # forward: they sort AFTER it, i.e. before it in the reversed order
        # (inclusive >=), where last() takes the min.
        w = base if direction == "backward" else rev
        matched = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    out = matched.where(F.col("__side") == F.lit(1 - right_side)).select(
        *[F.col(c) for c in left_cols],
        *[F.col("__m").getField(c).alias(c) for c in right_cols],
    )
    return out


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Backward as-of join via cogrouped Arrow batches + merge_asof."""
    right_cols = [c for c in right.columns if c != on]
    out_schema = StructType(list(left.schema.fields))
    for f in right.schema.fields:
        if f.name != on:
            out_schema.add(f.name, f.dataType, True)
    left_cols = list(left.columns)
    # Unmatched left rows put NaN into integral right columns; pandas
    # nullable dtypes keep them convertible to Spark long/int nulls.
    nullable_int = {
        f.name: "Int64" if f.dataType.simpleString() == "bigint" else "Int32"
        for f in right.schema.fields
        if f.name != on and f.dataType.simpleString() in ("bigint", "int")
    }

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=[*left_cols, *right_cols])
        lpdf = lpdf.sort_values(left_ts, kind="mergesort")
        if rpdf.empty:
            out = lpdf.copy()
            for c in right_cols:
                out[c] = None
            return out[[*left_cols, *right_cols]]
        # Secondary sort on the remaining right columns: merge_asof takes the
        # LAST qualifying row, so equal-timestamp ties resolve to the max of
        # the tie-break columns — deterministic across partitionings.
        rpdf = rpdf.drop(columns=[on]).sort_values(
            [right_ts, *[c for c in right_cols if c != right_ts]], kind="mergesort"
        )
        merged = pd.merge_asof(
            lpdf, rpdf, left_on=left_ts, right_on=right_ts, direction="backward"
        )
        merged = merged[[*left_cols, *right_cols]]
        for c, dt in nullable_int.items():
            merged[c] = merged[c].astype(dt)
        return merged

    return (
        left.groupBy(on)
        .cogroup(right.groupBy(on))
        .applyInPandas(merge, schema=out_schema)
    )


def asof_join_sql(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    left_id: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Join + argmax fallback (small right side per key). `left_id` must be
    unique per left row; `tiebreak` breaks equal right_ts deterministically.
    """
    from hadoop_data_lake_spark.operators.windows import top1_per_group

    r = right.select(
        F.col(on).alias("__on"),
        *[F.col(c).alias(c) for c in right.columns if c != on],
    )
    joined = left.join(
        r, (F.col(on) == F.col("__on")) & (F.col(right_ts) <= F.col(left_ts)), "left"
    ).drop("__on")
    order = [F.col(right_ts).desc_nulls_last()]
    if tiebreak:
        order.append(F.col(tiebreak).desc_nulls_last())
    return top1_per_group(joined, [left_id], order)
