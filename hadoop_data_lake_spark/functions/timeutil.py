"""Timestamp derivations.

Covers the reference's datetime surface (from_utc_timestamp —
calculate_user_city.py:51; to_timestamp / month / weekofyear,
calculate_user_city.py:20 and calculate_zone_report.py:18-21,30-33, are
plain `F.*` calls at their use sites) with one deliberate fix: the reference computes event gaps by
casting a timestamp difference to long (calculate_user_city.py:56), which in
Spark 3+ yields DayTimeIntervalType, not seconds (SURVEY.md §2.9-B4). We
compute gaps on epoch integers instead.

All cross-engine-visible timestamps are exposed as microseconds-since-epoch
BIGINTs (`unix_micros`): exact integers, timezone-free, identical in Spark
(session TZ pinned to UTC) and DuckDB (`epoch_us`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_us(col: Column) -> Column:
    """Timestamp -> exact microseconds since epoch (bigint)."""
    return F.unix_micros(col)


def gap_days(cur_ts: Column, prev_ts: Column) -> Column:
    """Gap between two timestamps in fractional days, computed on exact
    microsecond integers (fixes reference B4)."""
    return (F.unix_micros(cur_ts) - F.unix_micros(prev_ts)) / F.lit(86400.0 * 1e6)


def local_time(ts: Column, tz_name: Column) -> Column:
    """UTC timestamp -> wall-clock in tz (reference: from_utc_timestamp,
    calculate_user_city.py:51)."""
    return F.from_utc_timestamp(ts, tz_name)
