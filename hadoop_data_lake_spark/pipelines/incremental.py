"""Incremental materialized-view refresh: rebuild only changed partitions.

The reference recomputes its weekly datamarts from scratch every run
(reports_dag.py chains full rebuilds). At 100 TB a nightly batch touches a
handful of date partitions; recomputing every week's aggregates re-scans
the world for unchanged output. This pipeline is the partition-level
incremental pattern:

1. determine the affected output partitions from the arriving batch (here:
   the `week`s its dates fall in);
2. recompute ONLY those partitions' aggregates — the fact scan is
   partition-pruned to the dates feeding them (PartitionFilters, the same
   machinery as core/io.read_partitioned);
3. dynamic-partition-overwrite exactly those partitions; untouched weeks
   keep their existing files byte-for-byte.

Valid whenever the aggregate's partition key is a function of the fact's
partition key (week <- date), so each output partition depends only on its
own input slice. History-dependent aggregates (e.g. first-event-per-user
registrations) need the full-history pass instead — that's why
zone_report's registration counts are NOT refreshed this way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def weekly_zone_counts(events: DataFrame) -> DataFrame:
    """Per-(week, zone) event-type counts — the week-grain slice of the
    zone report (each week's row depends only on that week's events)."""
    base = events.select(
        F.weekofyear("ts").alias("week"),
        F.pmod("user_id", F.lit(10)).cast("long").alias("zone_id"),
        "event_type",
    )
    typed = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return base.groupBy("week", "zone_id").agg(
        F.count(F.lit(1)).alias("n_total"), *typed
    )


def affected_weeks(batch_events: DataFrame) -> list[int]:
    """Output partitions the batch touches (one tiny distinct agg)."""
    return [
        r["week"]
        for r in batch_events.select(F.weekofyear("ts").alias("week"))
        .distinct()
        .collect()
    ]


def refresh_weekly_zone_counts(
    spark: SparkSession,
    events_by_date_root: str,
    out_root: str,
    changed_weeks: list[int],
) -> None:
    """Recompute + overwrite only `changed_weeks` of the weekly report.

    The fact read prunes to the dates of those weeks (partition-column
    expression filter -> PartitionFilters, no data files listed for other
    dates), and the write replaces only the matching week= directories."""
    from hadoop_data_lake_spark.core.io import read_partitioned

    events = read_partitioned(spark, events_by_date_root)
    pruned = events.where(
        F.weekofyear(F.to_date(F.col("date"))).isin(changed_weeks)
    )
    out = weekly_zone_counts(pruned).where(F.col("week").isin(changed_weeks))
    (
        out.repartition("week")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("week")
        .parquet(out_root)
    )
