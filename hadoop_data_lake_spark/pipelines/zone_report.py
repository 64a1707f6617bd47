"""Zone activity report builder (reference:
src/scripts/calculate_zone_report.py:12-60).

Output contract (reference Q2, SURVEY.md §2.9): one row per
(week, month, zone_id) carrying denormalized week- and month-totals per
event type plus registration counts (first event per user).

The builder is schema-agnostic: callers hand it a base frame already
carrying (week, month, zone_id, event_type, ts, user, uid) — the flat driver
`events` table and the nested reference-shaped `mes_geo` dataset both reduce
to that shape. A zone cell where no user's first event falls reports 0
registrations and keeps its activity row (deviation from the reference's
row-dropping inner join, documented here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_zone_report(base: DataFrame, event_types: list[str]) -> DataFrame:
    """base columns: week int, month int, zone_id long, event_type string,
    ts timestamp, user long, uid long (unique row id for tie-breaks).

    One window and ONE aggregation over one fact scan. The window flags
    each user's registration, their first event under (ts, uid), with
    `is_reg`; `event_type` rides through that shuffle as a small integer
    code over `event_types`. One groupingSets aggregate then yields all
    three grains — (week, month, zone), (week, zone), (month, zone) — with
    the per-type counts and `sum(is_reg)`. grouping_id bits (cols week,
    month, zone_id): 0 = cell grain, 2 = month aggregated (week totals and
    `week_user`), 4 = week aggregated (month totals and `month_user`).

    This is exactly the two-branch definition (registrations counted
    separately per (week, zone) and (month, zone), then LEFT-joined with a
    0 fill): a registration is itself an event, so its grain cell exists
    in the aggregate, and `sum(is_reg)` is 0 in every cell where no first
    event falls.
    """
    code = F.lit(None).cast("int")
    for i, t in enumerate(event_types):
        code = F.when(F.col("event_type") == t, i).otherwise(code)
    first = Window.partitionBy("user").orderBy(F.col("ts").asc(), F.col("uid").asc())
    flagged = base.select(
        "week",
        "month",
        "zone_id",
        code.alias("etype"),
        (F.row_number().over(first) == 1).cast("int").alias("is_reg"),
    )
    counts = flagged.groupingSets(
        [["week", "month", "zone_id"], ["week", "zone_id"], ["month", "zone_id"]],
        "week",
        "month",
        "zone_id",
    ).agg(
        *[
            F.sum(F.when(F.col("etype") == i, 1).otherwise(0)).alias(t)
            for i, t in enumerate(event_types)
        ],
        F.sum("is_reg").alias("regs"),
        F.grouping_id().alias("gid"),
    )
    # localCheckpoint: three consumers slice this frame, and column pruning
    # makes each slice structurally different (no exchange reuse) — without
    # materialization the fact scan, window and aggregate run three times.
    # The checkpoint truncates lineage, so the fact table is provably read
    # ONCE; the frame is grain-bounded (weeks x months x zones rows).
    counts = counts.localCheckpoint(eager=True)
    zone_prep = counts.where(F.col("gid") == 0).select("week", "month", "zone_id")
    week_tot = counts.where(F.col("gid") == 2).select(
        "week",
        "zone_id",
        *[F.col(t).alias(f"week_{t}") for t in event_types],
        F.col("regs").alias("week_user"),
    )
    month_tot = counts.where(F.col("gid") == 4).select(
        "month",
        "zone_id",
        *[F.col(t).alias(f"month_{t}") for t in event_types],
        F.col("regs").alias("month_user"),
    )
    out = zone_prep.join(week_tot, on=["week", "zone_id"]).join(
        month_tot, on=["month", "zone_id"]
    )
    return out.select(
        "week",
        "month",
        "zone_id",
        *[F.col(f"week_{t}") for t in event_types],
        "week_user",
        *[F.col(f"month_{t}") for t in event_types],
        "month_user",
    )


def zone_report_from_mes_geo(mes_geo: DataFrame, event_types: list[str] | None = None) -> DataFrame:
    """Reference-shaped entry: mes_geo rows with nested `event` struct,
    event_type, city_id (calculate_zone_report.py:13-22 derivations, with
    the B4-safe timestamp parse)."""
    event_types = event_types or ["message", "reaction", "subscription"]
    base = (
        mes_geo.select(
            F.to_timestamp("event.datetime", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "event_type",
            F.col("city_id").cast("long").alias("zone_id"),
            F.col("event.message_from").cast("long").alias("user"),
            F.col("event_id").alias("uid"),
        )
        .where(F.col("ts").isNotNull())
        .withColumn("week", F.weekofyear("ts"))
        .withColumn("month", F.month("ts"))
    )
    return build_zone_report(base, event_types)
