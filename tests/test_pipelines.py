"""End-to-end pipeline tests on the reference-shaped fixtures
(tests/fixtures.py scenario; SURVEY.md §5 item 4).

Covers the four reference jobs with their bug fixes:
  geotag (save_mes_geo, B1 radians), user_city (calculate_user_city, B4/Q1),
  zone report (calculate_zone_report, Q2 grain), recommendations
  (calculate_user_recommendations, B2 reconstruction).
"""

import datetime

import pytest

from hadoop_data_lake_spark.pipelines.geotag import events_with_city
from hadoop_data_lake_spark.pipelines.recommendations import recommend_pairs
from hadoop_data_lake_spark.pipelines.user_city import user_city_datamart
from hadoop_data_lake_spark.pipelines.zone_report import zone_report_from_mes_geo
from tests.conftest import SF_DIR
from tests.fixtures import make_events, make_geo


@pytest.fixture(scope="module")
def mes_geo(spark):
    df = events_with_city(make_events(spark), make_geo(spark)).cache()
    df.count()
    yield df
    df.unpersist()


def test_geotag_nearest_city(mes_geo):
    rows = mes_geo.where("event_type = 'message'").collect()
    by_mid = {r["event"]["message_id"]: r for r in rows}
    assert by_mid[101]["city_name"] == "Moscow"
    assert by_mid[104]["city_name"] == "Saint Petersburg"
    assert by_mid[202]["city_name"] == "Kazan"
    assert by_mid[301]["city_name"] == "Kazan"
    # distance to the chosen centroid is sane (city-scale, not B1-garbage)
    assert all(r["dist_km"] < 50 for r in rows)
    # exactly one city per input event
    assert mes_geo.count() == mes_geo.select("event_id").distinct().count()


def test_geotag_carries_tz(mes_geo):
    assert "tz_name" in mes_geo.columns
    tz = {r["city_name"]: r["tz_name"] for r in mes_geo.collect()}
    assert tz["Moscow"] == "Europe/Moscow"


def test_user_city_datamart_scenario(mes_geo):
    out = {r["user_id"]: r for r in user_city_datamart(mes_geo).collect()}

    # user 1: >27-day Moscow run then SPb => home=Moscow, act=SPb
    assert out[1]["act_city"] == "Saint Petersburg"
    assert out[1]["home_city"] == "Moscow"
    assert out[1]["travel_array"] == ["Moscow", "Saint Petersburg"]
    assert out[1]["travel_count"] == 2

    # user 2: three 1-day hops => no home, 3 legs, act = last city
    assert out[2]["act_city"] == "Moscow"
    assert out[2]["home_city"] is None
    assert out[2]["travel_array"] == ["Moscow", "Kazan", "Moscow"]

    # user 3: single Kazan message
    assert out[3]["act_city"] == "Kazan"
    assert out[3]["home_city"] is None
    assert out[3]["travel_count"] == 1

    # local time = UTC ts shifted by the act city's zone (Moscow = UTC+3)
    assert out[2]["local_time"] == datetime.datetime(2024, 1, 3, 12, 0)

    # the null-datetime row creates no user and breaks nothing
    assert set(out) == {1, 2, 3, 10, 11, 12, 13}


def test_zone_report_grain_and_totals(mes_geo):
    rep = zone_report_from_mes_geo(mes_geo)
    rows = rep.collect()
    # Q2 grain: one row per (week, month, zone)
    keys = [(r["week"], r["month"], r["zone_id"]) for r in rows]
    assert len(keys) == len(set(keys))

    # every message lands in exactly one (week, month, zone) cell: summing
    # the distinct per-(month, zone) totals must equal the 13 message events
    # with a parseable datetime (the null-datetime row is dropped)
    total_msgs = (
        rep.select("month", "zone_id", "month_message")
        .distinct()
        .groupBy()
        .sum("month_message")
        .collect()[0][0]
    )
    assert total_msgs == 13

    # registrations: each of the 7 distinct message users registers once;
    # subscription events have message_from NULL and group separately
    month_user_total = (
        rep.select("month", "zone_id", "month_user").distinct().groupBy().sum("month_user").collect()[0][0]
    )
    assert month_user_total >= 7


def test_recommendations_radius_and_dedup(mes_geo):
    out = recommend_pairs(mes_geo, radius_km=1.0, processed_date=datetime.date(2024, 2, 1))
    rows = out.collect()
    # only users 10+11 share channel 100, same city, within 1 km;
    # 12 is ~7 km away, 13 is in SPb; channel 200 members are cross-city
    assert [(r["user_left"], r["user_right"]) for r in rows] == [(10, 11)]
    r = rows[0]
    assert r["channel"] == 100
    assert 0.4 < r["dist_km"] < 0.7
    assert r["processed_dttm"] == datetime.date(2024, 2, 1)
    # Moscow local midnight of the processed date (UTC+3)
    assert r["local_time"] == datetime.datetime(2024, 2, 1, 3, 0)


def test_recommendations_radius_widens(mes_geo):
    out = recommend_pairs(mes_geo, radius_km=10.0)
    pairs = sorted((r["user_left"], r["user_right"]) for r in out.collect())
    # 7.2 km now qualifies: 12 pairs with both 10 and 11; 13 still cross-city
    assert pairs == [(10, 11), (10, 12), (11, 12)]


# (datetime, message_from, event_type, city_id, event_id)
_REG_ROWS = [
    # user 1 registers in zone 5 (week 1, month 1); every later event falls
    # in another zone, week and month
    ("2024-01-01 10:00:00", 1, "message", 5, 10),
    ("2024-02-20 09:00:00", 1, "message", 7, 11),
    ("2024-02-21 09:00:00", 1, "reaction", 7, 12),
    ("2024-03-05 12:00:00", 1, "message", 8, 13),
    # users 2 and 3: two first events tie on ts, the lower event_id decides
    ("2024-01-15 09:00:00", 2, "message", 4, 21),
    ("2024-01-15 09:00:00", 2, "reaction", 3, 20),
    ("2024-01-29 09:00:00", 2, "message", 4, 22),
    ("2024-02-02 08:00:00", 3, "reaction", 6, 31),
    ("2024-02-02 08:00:00", 3, "message", 6, 30),
    ("2024-02-02 08:00:00", 3, "message", 5, 32),
    # user 4: same month, later week, other zone
    ("2024-03-04 10:00:00", 4, "message", 2, 40),
    ("2024-03-25 10:00:00", 4, "message", 9, 41),
    # subscriptions carry no user: they register once, as the NULL user
    ("2024-01-03 10:00:00", None, "subscription", 5, 50),
    ("2024-02-21 10:00:00", None, "subscription", 7, 51),
]


def _zone_report_reference(rows, event_types):
    """pandas replay of the two-branch definition: per-type counts per
    (week, month, zone) joined to its week and month totals, plus
    registrations (first event per user under (ts, uid)) counted per
    (week, zone) and (month, zone) and LEFT-joined with a 0 fill."""
    import pandas as pd

    base = pd.DataFrame(rows, columns=["dt", "user", "event_type", "zone_id", "uid"])
    ts = pd.to_datetime(base["dt"])
    base["week"] = ts.dt.isocalendar().week.astype(int)
    base["month"] = ts.dt.month
    base["ts"] = ts
    for t in event_types:
        base[t] = (base["event_type"] == t).astype(int)
    cell = base.groupby(["week", "month", "zone_id"], as_index=False)[event_types].sum()
    wk = base.groupby(["week", "zone_id"], as_index=False)[event_types].sum()
    mo = base.groupby(["month", "zone_id"], as_index=False)[event_types].sum()
    regs = base.sort_values(["ts", "uid"]).groupby("user", dropna=False).head(1)
    wu = regs.groupby(["week", "zone_id"]).size().rename("week_user").reset_index()
    mu = regs.groupby(["month", "zone_id"]).size().rename("month_user").reset_index()
    out = (
        cell[["week", "month", "zone_id"]]
        .merge(wk.rename(columns={t: f"week_{t}" for t in event_types}), on=["week", "zone_id"])
        .merge(mo.rename(columns={t: f"month_{t}" for t in event_types}), on=["month", "zone_id"])
        .merge(wu, on=["week", "zone_id"], how="left")
        .merge(mu, on=["month", "zone_id"], how="left")
        .fillna({"week_user": 0, "month_user": 0})
    )
    cols = [
        "week", "month", "zone_id",
        *[f"week_{t}" for t in event_types], "week_user",
        *[f"month_{t}" for t in event_types], "month_user",
    ]
    return sorted(tuple(int(v) for v in r) for r in out[cols].itertuples(index=False))


def test_zone_report_registrations_match_the_two_branch_definition(spark):
    types = ["message", "reaction", "subscription"]
    mes_geo = spark.createDataFrame(
        [((dt, user), et, city, uid) for dt, user, et, city, uid in _REG_ROWS],
        "event struct<datetime: string, message_from: long>, event_type string, "
        "city_id int, event_id long",
    )
    rep = zone_report_from_mes_geo(mes_geo, types)
    assert rep.columns == [
        "week", "month", "zone_id",
        *[f"week_{t}" for t in types], "week_user",
        *[f"month_{t}" for t in types], "month_user",
    ]
    got = sorted(tuple(r) for r in rep.collect())
    assert got == _zone_report_reference(_REG_ROWS, types)
    # the cases the fixture is built for: user 1 registers in zone 5 only,
    # user 2's tie goes to event 20 (zone 3), not event 21 (zone 4)
    by_week = {(r["week"], r["zone_id"]): r["week_user"] for r in rep.collect()}
    assert by_week[(1, 5)] == 2  # user 1 and the NULL user
    assert by_week[(8, 7)] == 0
    assert by_week[(3, 3)] == 1 and by_week[(3, 4)] == 0


def test_zone_report_values_survive_checkpoint_swap(spark):
    """The persist->localCheckpoint swap must be value-neutral: the
    flagship report at sf0.001 keeps its known grain and row count, and
    week/month totals stay internally consistent (the week total of a
    (week, month, zone) cell >= the cell's own count)."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.queries.registry import REGISTRY

    df = REGISTRY["zone_report"].fn(spark, SF_DIR)
    rows = df.count()
    assert rows > 0
    assert df.select("week", "month", "zone_id").distinct().count() == rows
    bad = df.where(
        (F.col("week_purchase") < 0)
        | (F.col("week_user") < 0)
        | (F.col("month_user") < 0)
    ).count()
    assert bad == 0
