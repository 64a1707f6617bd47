"""haversine_km properties + the B1 degree/radian regression guard
(SURVEY.md §2.9-B1: the reference feeds raw degrees into sin/cos,
save_mes_geo.py:39)."""

import pytest
import math

import pyspark.sql.functions as F
from hypothesis import example, given, settings, strategies as st

from conftest import SF_DIR
from hadoop_data_lake_spark.functions.geo import grid_cell, haversine_km

# Coordinates from integer strategies, as in test_properties.py (1e-4 degree
# resolution).
lat_s = st.integers(min_value=-600_000, max_value=600_000).map(lambda v: v / 10_000.0)
lon_s = st.integers(min_value=-1_700_000, max_value=1_700_000).map(lambda v: v / 10_000.0)
coord_s = st.tuples(lat_s, lon_s)

# (name, lat, lon) — fixed points covering hemispheres, poles, antimeridian.
POINTS = [
    ("moscow", 55.7558, 37.6173),
    ("spb", 59.9343, 30.3351),
    ("sydney", -33.8688, 151.2093),
    ("quito", -0.1807, -78.4678),
    ("north_pole", 90.0, 0.0),
    ("south_pole", -90.0, 0.0),
    ("antimeridian_w", 10.0, 179.9),
    ("antimeridian_e", 10.0, -179.9),
]


def _pairs_df(spark):
    rows = [
        (a[0], a[1], a[2], b[0], b[1], b[2]) for a in POINTS for b in POINTS
    ]
    return spark.createDataFrame(
        rows, "name1 string, lat1 double, lon1 double, name2 string, lat2 double, lon2 double"
    ).withColumn(
        "d", haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"))
    )


def test_haversine_identity_symmetry_range(spark):
    got = {
        (r["name1"], r["name2"]): r["d"] for r in _pairs_df(spark).collect()
    }
    for a in POINTS:
        assert got[(a[0], a[0])] == 0.0
    for a in POINTS:
        for b in POINTS:
            assert math.isclose(got[(a[0], b[0])], got[(b[0], a[0])], rel_tol=1e-12)
            # half the Earth circumference with r=6371 is ~20015.1 km
            assert 0.0 <= got[(a[0], b[0])] <= 20016.0


def test_haversine_known_distances(spark):
    got = {
        (r["name1"], r["name2"]): r["d"] for r in _pairs_df(spark).collect()
    }
    # Moscow–Saint Petersburg ≈ 634 km. The reference's degree-fed formula
    # (B1) returns ~10 km here, so this also pins the radians fix.
    assert 625 <= got[("moscow", "spb")] <= 645
    # pole-to-pole = half circumference
    assert math.isclose(got[("north_pole", "south_pole")], math.pi * 6371, rel_tol=1e-6)
    # 0.2° of longitude across the antimeridian at lat 10 ≈ 21.9 km, NOT
    # ~39000 km (the formula must wrap through cos of half the lon delta).
    assert got[("antimeridian_w", "antimeridian_e")] < 25


def test_grid_cell_neighbors_within_radius(spark):
    # Points within cell_km must land in the same or adjacent cells — the
    # invariant the grid_distance_self_join prefilter relies on. Checked
    # N-S, E-W at high latitude (lon degrees shrink), and across the
    # antimeridian (col must wrap).
    df = spark.createDataFrame(
        [
            ("ns", 55.7558, 37.6173), ("ns", 55.7608, 37.6173),         # ~556 m N-S
            ("ew_hi", 79.9, 10.0), ("ew_hi", 79.9, 10.0501),            # ~980 m E-W at lat 80
            ("am", 10.0, 179.9999), ("am", 10.0, -179.9999),            # ~22 m across the seam
        ],
        "grp string, lat double, lon double",
    )
    cy, cx, n_lon = grid_cell(F.col("lat"), F.col("lon"), cell_km=1.0)
    rows = df.select("grp", cy.alias("cy"), cx.alias("cx")).collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r["grp"], []).append((r["cy"], r["cx"]))
    for grp, ((y1, x1), (y2, x2)) in by_grp.items():
        assert abs(y1 - y2) <= 1, grp
        dx = abs(x1 - x2)
        assert min(dx, n_lon - dx) <= 1, grp


def test_grid_join_enforces_latitude_domain(spark):
    """Beyond max_abs_lat the 3x3 containment guarantee breaks; the join
    must raise instead of silently missing pairs (and a widened domain must
    accept the same rows)."""
    from hadoop_data_lake_spark.operators.joins import grid_distance_self_join

    polar = spark.createDataFrame(
        [(1, 85.0, 10.0), (2, 85.0, 10.1)], "uid long, lat double, lon double"
    )
    with pytest.raises(Exception, match="containment"):
        grid_distance_self_join(polar, "uid", "lat", "lon", radius_km=5.0).collect()
    ok = grid_distance_self_join(
        polar, "uid", "lat", "lon", radius_km=5.0, max_abs_lat=89.0
    )
    # 0.1 deg lon at lat 85 is ~1 km — inside the 5 km radius
    assert ok.count() == 1


def test_tz_from_lon_nautical_bands(spark):
    """15-degree longitude bands map to the POSIX-inverted Etc/GMT zones and
    from_utc_timestamp applies the expected wall-clock shift."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.functions.geo import tz_from_lon

    rows = [
        (1, 139.7),   # Tokyo-ish      -> UTC+9  -> Etc/GMT-9
        (2, -74.0),   # New-York-ish   -> UTC-5  -> Etc/GMT+5
        (3, 0.0),     # Greenwich      -> UTC+0  -> Etc/GMT+0
        (4, 180.0),   # antimeridian   -> UTC+12 -> Etc/GMT-12
    ]
    df = spark.createDataFrame(rows, "uid long, lon double").select(
        "uid",
        tz_from_lon(F.col("lon")).alias("tz"),
        F.from_utc_timestamp(F.lit("2026-01-01 00:00:00"), tz_from_lon(F.col("lon"))).alias("local"),
    )
    got = {r["uid"]: (r["tz"], str(r["local"])) for r in df.collect()}
    assert got[1] == ("Etc/GMT-9", "2026-01-01 09:00:00")
    assert got[2] == ("Etc/GMT+5", "2025-12-31 19:00:00")
    assert got[3] == ("Etc/GMT+0", "2026-01-01 00:00:00")
    assert got[4] == ("Etc/GMT-12", "2026-01-01 12:00:00")


def test_tz_from_coords_udf_gated_on_optional_dep(spark):
    """Without timezonefinder installed the exact tier reports unavailable
    and user_local_time_coords(exact=True)'s caller contract is the
    fallback; with it installed the UDF path is exercised instead."""
    from hadoop_data_lake_spark.functions.geo import tz_from_coords_udf

    udf = tz_from_coords_udf()
    try:
        import timezonefinder  # noqa: F401
        assert udf is not None
    except ImportError:
        assert udf is None


def test_geohash_matches_canonical_vectors(spark):
    """geohash_of must reproduce the published reference encodings — the
    20-bit quantization + Morton interleave is exactly 20 rounds of the
    textbook bisection."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.functions.geo import geohash_of

    df = spark.createDataFrame(
        [(1, 57.64911, 10.40744), (2, 39.92324, 116.3906), (3, 0.0, 0.0)],
        "id long, lat double, lon double",
    )
    got = {
        r["id"]: r["gh"]
        for r in df.select("id", geohash_of(F.col("lat"), F.col("lon")).alias("gh")).collect()
    }
    assert got[1] == "u4pruydq"   # the classic Jutland example
    assert got[2] == "wx4g0ec1"   # Beijing
    assert got[3].startswith("s00000")


def test_ray_casting_known_points(spark):
    """Hand-checked containment: center of each fence is inside, far
    poles are outside, and a point in the equator box is labeled by the
    FIRST matching zone."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.queries.geo_queries import (
        _GEOFENCES,
        _ray_cast_sql,
    )

    cases = [
        (5.0, -10.0, "equator_box", True),   # box center-ish
        (45.0, -100.0, "north_tri", True),   # triangle interior
        (-40.0, 110.0, "south_quad", True),  # quad interior
        (80.0, 0.0, "equator_box", False),
        (80.0, 0.0, "north_tri", False),
        (80.0, 0.0, "south_quad", False),
    ]
    df = spark.createDataFrame(
        [(la, lo) for la, lo, _, _ in cases], ["lat", "lon"]
    )
    rows = df.select(
        "lat",
        "lon",
        *[
            F.expr(_ray_cast_sql(v, "lat", "lon")).alias(name)
            for name, v in _GEOFENCES
        ],
    ).collect()
    got = {(r["lat"], r["lon"]): r for r in rows}
    for la, lo, zone, want in cases:
        assert bool(got[(la, lo)][zone]) == want, (la, lo, zone)


def test_haversine_sql_is_the_haversine_km_tree(spark):
    """The SQL twin and the Column builder analyze to the same expression
    tree, so the nearest_city tier's distances are bit-identical to the
    cross join's."""
    import re

    from hadoop_data_lake_spark.functions.geo import HAVERSINE_A_SQL, HAVERSINE_KM_SQL

    df = spark.range(1).selectExpr(
        "id * 1.5D AS lat1", "id * 2.5D AS lon1", "id * 3.5D AS lat2", "id * 4.5D AS lon2"
    )
    a = HAVERSINE_A_SQL.format(lat1="lat1", lon1="lon1", lat2="lat2", lon2="lon2")
    by_sql = df.selectExpr(f"{HAVERSINE_KM_SQL.format(a=a)} AS d")
    by_col = df.select(
        haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d")
    )

    def tree(x):
        return re.sub(r"#\d+L?", "", x._jdf.queryExecution().analyzed().toString())

    assert tree(by_sql) == tree(by_col)


# --------------------------------------------------------------------------
# nearest_city: the per-row argmin tier against the broadcast cross join.
# --------------------------------------------------------------------------

_EV_SCHEMA = "event_id long, user_id long, lat double, lon double"
_CITY_SCHEMA = "city_id int, city_name string, lat_c double, lon_c double"
OBRIEN = "O'Br\\ien"


def _nearest_rows(spark, events, cities, tiers_on: bool):
    from hadoop_data_lake_spark.core import driver_tier as DT
    from hadoop_data_lake_spark.queries.geo_queries import nearest_city_of

    ev = spark.createDataFrame(events, _EV_SCHEMA)
    was, DT.GENERAL_DRIVER_TIER_ENABLED = DT.GENERAL_DRIVER_TIER_ENABLED, tiers_on
    try:
        df = nearest_city_of(ev, spark.createDataFrame(cities, _CITY_SCHEMA), len(cities))
    finally:
        DT.GENERAL_DRIVER_TIER_ENABLED = was
    plan = df._jdf.queryExecution().executedPlan().toString()
    if events:  # an empty local relation plans no join at all
        assert ("BroadcastNestedLoopJoin" in plan) is not tiers_on  # the path ran
    return sorted(map(tuple, df.collect()), key=repr)


@settings(max_examples=12, deadline=None)
@example(
    cities=[(10.0, 20.0), (-10.0, -20.0)], ids=[5, 3], near=[], spread=1.0, far=[],
    shift=(1, 10), twin_low=False, null_user=False,
)
@example(
    cities=[(10.0, 20.0)], ids=[5], near=[(3, 4), (-7, 2), (30, -30), (1, 1)], spread=1e-4,
    far=[], shift=(3, 12), twin_low=False, null_user=True,
)
@given(
    cities=st.lists(coord_s, min_size=1, max_size=8),
    ids=st.lists(st.integers(3, 1000), min_size=8, max_size=8, unique=True),
    near=st.lists(st.tuples(st.integers(-30, 30), st.integers(-30, 30)), max_size=25),
    spread=st.sampled_from([1e-4, 1e-2, 1.0]),
    far=st.lists(coord_s, max_size=10),
    shift=st.tuples(st.integers(1, 9), st.integers(5, 12)),
    twin_low=st.booleans(),
    null_user=st.booleans(),
)
def test_nearest_city_tier_matches_cross_join(
    spark, cities, ids, near, spread, far, shift, twin_low, null_user
):
    """Tier on == tier off, row for row. The first city gets an exact twin
    (same coordinates, lower id, later row: ties go to the lower id) and a
    near twin shifted by m * 10^-e degrees, whose rounded distance ties or
    straddles a 6-decimal boundary and whose id is the lowest or the
    highest; events cluster around the first city. City id 0 is named
    O'Br\\ien and has an event on it."""
    (lat0, lon0), rest = cities[0], cities[1:]
    city_rows = [(ids[0], "c0", lat0, lon0)]
    city_rows += [(ids[i + 1], f"c{i + 1}", la, lo) for i, (la, lo) in enumerate(rest)]
    city_rows += [
        (min(ids) - 1, "twin", lat0, lon0),
        (min(ids) - 2 if twin_low else 1001, "near_twin", lat0 + shift[0] * 10.0 ** -shift[1], lon0),
        (0, OBRIEN, 45.0, 45.0),
    ]
    events = [(i, i % 7, lat0 + a * spread, lon0 + b * spread) for i, (a, b) in enumerate(near)]
    events += [(100 + i, i, la, lo) for i, (la, lo) in enumerate(far)]
    if events:
        events += [(200, 3, 45.0, 45.0), events[0]]  # on O'Br\ien; a duplicate row
        if null_user:
            events.append((300, None, None, None))
    on = _nearest_rows(spark, events, city_rows, True)
    off = _nearest_rows(spark, events, city_rows, False)
    assert on == off
    assert len(on) == len(events)
    if events:
        assert (200, 3, 0, OBRIEN, 0.0) in on


def test_nearest_city_runs_one_collect_and_one_action(spark, tiers):
    """Warm: one build job (the city collect) and one job for the whole
    result. The cross join builds with no job."""
    from conftest import SF_DIR, count_jobs

    from hadoop_data_lake_spark.queries.registry import REGISTRY

    fn = REGISTRY["nearest_city"].fn
    tiers(True)
    fn(spark, SF_DIR)  # schema memo: a first read runs an inference job
    df, build = count_jobs(spark, lambda: fn(spark, SF_DIR))
    _, action = count_jobs(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert (build, action) == (1, 1)
    tiers(False)
    assert count_jobs(spark, lambda: fn(spark, SF_DIR))[1] == 0


def test_grid_density_clusters_are_connected_and_dense(spark):
    """Every reported cluster's event count is at least its cell count
    times the core threshold floor, and cluster reps are member cells."""
    from hadoop_data_lake_spark.queries.geo_queries import grid_density_clusters

    rows = grid_density_clusters(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_cells"] >= 1
        assert r["n_events"] >= r["n_cells"]  # core cells are non-empty
