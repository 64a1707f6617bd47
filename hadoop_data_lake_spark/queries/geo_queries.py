"""Geo pipeline queries — the reference's geotag / user-city /
recommendation semantics (src/scripts/save_mes_geo.py,
calculate_user_city.py, calculate_user_recommendations.py) made
oracle-checkable on the flat driver tables.

The driver testdata carries no coordinates, so events get DETERMINISTIC
synthetic ones (pure integer arithmetic on user_id/event_id, identical in
Spark and DuckDB SQL), and the `nation` table doubles as the city dimension
with synthetic centroids. This keeps the exact operator shapes — broadcast
cross join + haversine argmin (J1+W1), latest-position window (W2),
grid-banded radius self-join (J2+J4 with B1 fixed), tz dimension +
from_utc_timestamp (SURVEY.md §7.5) — inside the DuckDB correctness gate
rather than only in pytest.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_lake_spark.core import driver_tier
from hadoop_data_lake_spark.core.io import local_frame, parquet_row_count, read_table
from hadoop_data_lake_spark.functions.geo import HAVERSINE_A_SQL, HAVERSINE_KM_SQL, haversine_km
from hadoop_data_lake_spark.operators.joins import grid_distance_self_join
from hadoop_data_lake_spark.operators.windows import top1_per_group

# Deterministic synthetic coordinates: lat in [-60, 59.9], lon in [-170, 169.9].
# (Builders, not module constants — Column construction needs a live session.)
def _lat():
    return F.lit(-60.0) + ((F.col("user_id") * 7919 + F.col("event_id")) % 1200) / 10.0


def _lon():
    return F.lit(-170.0) + ((F.col("user_id") * 104729 + F.col("event_id") * 13) % 3400) / 10.0


_LAT_SQL = "(-60.0 + ((user_id * 7919 + event_id) % 1200) / 10.0)"
_LON_SQL = "(-170.0 + ((user_id * 104729 + event_id * 13) % 3400) / 10.0)"


# City centroids synthesized from the 25-row nation dimension.
def _lat_c():
    return F.lit(-55.0) + (F.col("n_nationkey") * 137) % 110


def _lon_c():
    return F.lit(-160.0) + (F.col("n_nationkey") * 89) % 320


_LAT_C_SQL = "(-55.0 + (n_nationkey * 137) % 110)"
_LON_C_SQL = "(-160.0 + (n_nationkey * 89) % 320)"

_HAVERSINE_SQL = (
    "(2 * 6371.0 * asin(sqrt("
    "sin(radians({lat2} - {lat1}) / 2) ^ 2 + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "sin(radians({lon2} - {lon1}) / 2) ^ 2)))"
)

# Timezone dimension keyed on user_id (stands in for the reference's
# city_id -> tz_name broadcast dim, §7.5).
_TZS = ["America/New_York", "Asia/Tokyo", "Europe/Moscow", "UTC"]
_TZ_SQL = (
    "(CASE user_id % 4 WHEN 0 THEN 'America/New_York' WHEN 1 THEN 'Asia/Tokyo' "
    "WHEN 2 THEN 'Europe/Moscow' ELSE 'UTC' END)"
)


def _tz_expr():
    return F.element_at(
        F.array(*[F.lit(t) for t in _TZS]), (F.col("user_id") % 4 + 1).cast("int")
    )


def _located_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", _lat().alias("lat"), _lon().alias("lon")
    )


def _cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("city_id"),
        F.col("n_name").alias("city_name"),
        _lat_c().alias("lat_c"),
        _lon_c().alias("lon_c"),
    )


# --------------------------------------------------------------------------
# Geotag: nearest city per event (reference save_mes_geo.py:24-50; J1 + W1
# with the B1 radians fix). One output row per input event row: the city
# with the least (round(dist_km, 6), city_id).
#
# The city dimension is small, so the default plan collects it once
# (`core.driver_tier.collect_bounded`, footer-count bound) and computes the
# argmin per event row in one codegen'd projection: no join, no shuffle, no
# aggregate. The select is on haversine's inner term `a` (order-preserving
# and cheaper than the distance), and only the cities within 1e-9 of the
# least `a` pay for asin/sqrt and the 6-decimal round (a BigDecimal
# setScale per value, which cost more than the trigonometry). Exact:
# sqrt is correctly rounded, asin semi-monotonic and round monotone, so the
# rounded distance never decreases in `a`; da/dd <= 1/(2R), so a gap in `a`
# over 1e-9 is a distance gap over 1.2e-5 km, more than one 6-decimal
# bucket; a NULL `a` (NULL user_id) takes the round(NULL) branch, which
# sorts first as NULL does in the cross join's struct order.
#
# With the tiers off, more cities than `ARGMIN_MAX_ROWS`, or a NULL/NaN/inf
# dimension value, the broadcast cross join runs: a BroadcastNestedLoopJoin
# keyed by a per-row id (as save_mes_geo.py:31 does) and one
# min(struct(dist_km, city_id, city_name)) aggregate. Both paths return
# the same rows.
# --------------------------------------------------------------------------

def nearest_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    bound = parquet_row_count(sf_dir, "nation", cap=driver_tier.ARGMIN_MAX_ROWS)
    return nearest_city_of(_located_events(spark, sf_dir), _cities(spark, sf_dir), bound)


def nearest_city_of(ev: DataFrame, cities: DataFrame, bound: int | None = None) -> DataFrame:
    """(event_id, user_id, city_id, city_name, dist_km) per row of ``ev``
    (event_id, user_id, lat, lon) over ``cities`` (city_id, city_name,
    lat_c, lon_c); ``bound`` is a sound upper bound on the city count."""
    pdf = driver_tier.collect_bounded(
        cities,
        max_rows=driver_tier.ARGMIN_MAX_ROWS,
        bound=bound,
        types={
            "city_id": driver_tier.INTEGRAL,
            "lat_c": (T.DoubleType,),
            "lon_c": (T.DoubleType,),
        },
        null_cols=("city_id", "lat_c", "lon_c", "city_name"),
    )
    if pdf is None or not np.isfinite(pdf[["lat_c", "lon_c"]].to_numpy()).all():
        return _nearest_city_cross(ev, cities)
    # Index order is (city_id, city_name) order, so the index breaks ties
    # exactly as the cross join's struct does.
    pdf = pdf.sort_values(["city_id", "city_name"], kind="stable")
    a = [
        HAVERSINE_A_SQL.format(lat1="lat", lon1="lon", lat2=f"{la!r}D", lon2=f"{lo!r}D")
        for la, lo in zip(pdf["lat_c"].tolist(), pdf["lon_c"].tolist())
    ]
    n = len(a)
    keys = ", ".join(
        f"named_struct('k', if(__a{i} > __m + 1e-9, double('inf'), "
        f"round({HAVERSINE_KM_SQL.format(a=f'__a{i}')}, 6)), 'i', {i})"
        for i in range(n)
    )
    best = ev.selectExpr(
        "event_id",
        "user_id",
        *[f"{a_i} AS __a{i}" for i, a_i in enumerate(a)],
        f"least({', '.join(f'__a{i}' for i in range(n))}) AS __m",
        f"least({keys}) AS __w",
    )
    # one bound array literal each (numpy arrays cross py4j in one call)
    id_type = cities.schema["city_id"].dataType
    ids = F.lit(pdf["city_id"].to_numpy(dtype=np.int64)).cast(T.ArrayType(id_type))
    names = F.lit(pdf["city_name"].to_numpy(dtype=str))
    at = F.col("__w.i") + 1
    return best.select(
        "event_id",
        "user_id",
        F.element_at(ids, at).alias("city_id"),
        F.element_at(names, at).alias("city_name"),
        F.col("__w.k").alias("dist_km"),
    )


def _nearest_city_cross(ev: DataFrame, cities: DataFrame) -> DataFrame:
    paired = (
        ev.withColumn("__rid", F.monotonically_increasing_id())
        .crossJoin(F.broadcast(cities))
        .withColumn(
            "dist_km",
            F.round(haversine_km(F.col("lat"), F.col("lon"), F.col("lat_c"), F.col("lon_c")), 6),
        )
    )
    best = paired.groupBy("__rid", "event_id", "user_id").agg(
        F.min(F.struct("dist_km", "city_id", "city_name")).alias("best")
    )
    return best.select(
        "event_id",
        "user_id",
        F.col("best.city_id").alias("city_id"),
        F.col("best.city_name").alias("city_name"),
        F.col("best.dist_km").alias("dist_km"),
    )


NEAREST_CITY_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM events
),
cities AS (
  SELECT n_nationkey AS city_id, n_name AS city_name,
         {_LAT_C_SQL} AS lat_c, {_LON_C_SQL} AS lon_c
  FROM nation
),
paired AS (
  SELECT ev.event_id, ev.user_id, c.city_id, c.city_name,
         round({_HAVERSINE_SQL.format(lat1='ev.lat', lon1='ev.lon', lat2='c.lat_c', lon2='c.lon_c')}, 6) AS dist_km
  FROM ev CROSS JOIN cities c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY dist_km, city_id) AS rn
  FROM paired
)
SELECT event_id, user_id, city_id, city_name, dist_km FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Latest position per user (reference W2, calculate_user_city.py:42-50).
# --------------------------------------------------------------------------

def user_latest_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _located_events(spark, sf_dir)
    latest = top1_per_group(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return latest.select("user_id", F.col("event_id").alias("last_event_id"), "lat", "lon")


USER_LATEST_POSITION_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, ts, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM events
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev
)
SELECT user_id, event_id AS last_event_id, lat, lon FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Proximity pairs: users whose latest positions are within 300 km
# (the reference recommendation join J2+J4 intent, B2 reconstructed).
# Spark side uses the grid-banded self-join — candidates are cell-local,
# never all-pairs; the oracle verifies against the exact quadratic form.
# --------------------------------------------------------------------------

def user_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = user_latest_position(spark, sf_dir).select("user_id", "lat", "lon")
    pairs = grid_distance_self_join(
        pos, id_col="user_id", lat_col="lat", lon_col="lon", radius_km=300.0
    )
    return pairs.select(
        F.col("user_id_l").alias("user_left"),
        F.col("user_id_r").alias("user_right"),
        F.round("dist_km", 6).alias("dist_km"),
    )


USER_PROXIMITY_PAIRS_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, ts, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM events
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev
),
pos AS (SELECT user_id, lat, lon FROM ranked WHERE rn = 1)
SELECT a.user_id AS user_left, b.user_id AS user_right,
       round({_HAVERSINE_SQL.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')}, 6) AS dist_km
FROM pos a JOIN pos b ON a.user_id < b.user_id
WHERE {_HAVERSINE_SQL.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')} <= 300.0
"""


# --------------------------------------------------------------------------
# Local time: latest event per user shifted into the user's timezone via a
# broadcast tz dimension + from_utc_timestamp — the engine's replacement for
# the reference's timezonefinder Python UDF (calculate_user_city.py:28-38,
# SURVEY.md §7.5).
# --------------------------------------------------------------------------

def user_local_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    latest = top1_per_group(ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()])
    return latest.select(
        "user_id",
        _tz_expr().alias("tz_name"),
        F.from_utc_timestamp("ts", _tz_expr()).alias("local_time"),
    )


USER_LOCAL_TIME_SQL = f"""
WITH ranked AS (
  SELECT user_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, {_TZ_SQL} AS tz_name,
       timezone({_TZ_SQL}, timezone('UTC', ts)) AS local_time
FROM ranked WHERE rn = 1
"""


def user_local_time_coords(spark: SparkSession, sf_dir: str, exact: bool = False) -> DataFrame:
    """Local time of each user's latest event from COORDINATES — the
    reference's actual lookup shape (timezonefinder on raw lat/lon,
    calculate_user_city.py:28-38), which the city-dimension join deviates
    from (SURVEY.md §7.5). `exact=True` uses the boundary-exact
    timezonefinder pandas UDF when the optional library is installed;
    the default is the deterministic nautical-band fallback
    (functions/geo.tz_from_lon) — pure column arithmetic, oracle-checkable,
    and dependency-free."""
    from hadoop_data_lake_spark.functions.geo import tz_from_coords_udf, tz_from_lon

    ev = _located_events(spark, sf_dir)
    latest = top1_per_group(ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()])
    udf = tz_from_coords_udf() if exact else None
    tz = udf(F.col("lon"), F.col("lat")) if udf is not None else tz_from_lon(F.col("lon"))
    return latest.select(
        "user_id",
        tz.alias("tz_name"),
        F.from_utc_timestamp("ts", tz).alias("local_time"),
    )


def _user_local_time_coords_sql() -> str:
    from hadoop_data_lake_spark.functions.geo import TZ_FROM_LON_SQL

    tz = TZ_FROM_LON_SQL.format(lon="lon")
    return f"""
WITH located AS (
  SELECT event_id, user_id, ts, {_LON_SQL} AS lon FROM events
),
ranked AS (
  SELECT user_id, ts, lon,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM located
)
SELECT user_id, {tz} AS tz_name,
       timezone({tz}, timezone('UTC', ts)) AS local_time
FROM ranked WHERE rn = 1
"""


USER_LOCAL_TIME_COORDS_SQL = _user_local_time_coords_sql()


# --------------------------------------------------------------------------
# Ordered event history per user (reference A5: collect_list(struct) +
# sort_array, calculate_user_city.py:63-69) — emitted as a joined string so
# the value hash is engine-portable.
# --------------------------------------------------------------------------

def user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ",",
        ).alias("history"),
    )


USER_EVENT_HISTORY_SQL = """
SELECT user_id, count(*) AS n_events,
       string_agg(event_type, ',' ORDER BY ts, event_id) AS history
FROM events GROUP BY user_id
"""


def geohash_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell spatial rollup: events bucketed by 4-character geohash cell
    (functions/geo.geohash_of — the standard base-32 cell index; prefix
    truncation = coarser cells). The spatial-aggregation primitive the
    reference's zone reports approximate with synthetic zone ids — here
    the cell key derives from actual coordinates, composes with
    cell-equality spatial joins, and is one hash aggregation over the
    scan. Oracle replays the full quantize/interleave/base-32 pipeline."""
    from hadoop_data_lake_spark.functions.geo import geohash_of

    ev = _located_events(spark, sf_dir)
    # precision=4 directly (r11): the geohash prefix property makes
    # substring(gh8, 1, 4) == gh4 by construction, so the four extra
    # per-row char extractions were pure waste (Morton spread unchanged)
    cell = geohash_of(F.col("lat"), F.col("lon"), precision=4)
    return (
        ev.groupBy(cell.alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def _geohash_cell_counts_sql() -> str:
    from hadoop_data_lake_spark.functions.geo import geohash_sql

    gh = geohash_sql(_LAT_SQL, _LON_SQL, precision=4)
    return f"""
SELECT {gh} AS cell,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
"""


GEOHASH_CELL_COUNTS_SQL = _geohash_cell_counts_sql()


# --------------------------------------------------------------------------
# Point-in-polygon zone classification: ray casting over literal polygon
# fences. The crossing test for each edge is generated ONCE from the vertex
# list into identical arithmetic for both engines (single source of truth —
# the expression text IS the parity guarantee).
# --------------------------------------------------------------------------

_GEOFENCES: list[tuple[str, list[tuple[float, float]]]] = [
    # (zone, [(lat, lon) vertices, counter-clockwise])
    ("equator_box", [(-15.0, -60.0), (-15.0, 40.0), (25.0, 40.0), (25.0, -60.0)]),
    ("north_tri", [(30.0, -150.0), (55.0, -30.0), (58.0, -140.0)]),
    ("south_quad", [(-58.0, 60.0), (-20.0, 80.0), (-25.0, 160.0), (-55.0, 150.0)]),
]


def _ray_cast_sql(verts: list[tuple[float, float]], lat: str, lon: str) -> str:
    """Odd-crossings containment test as one SQL boolean expression (the
    classic PNPOLY formulation), valid in Spark SQL and DuckDB alike."""
    terms = []
    n = len(verts)
    for i in range(n):
        yi, xi = verts[i]
        yj, xj = verts[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({yi!r} > {lat}) <> ({yj!r} > {lat})) AND "
            f"({lon} < ({xj!r} - {xi!r}) * ({lat} - {yi!r}) / ({yj!r} - {yi!r}) + {xi!r}) "
            f"THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def point_in_polygon_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence classification: each located event tested against three
    literal polygon fences by ray casting (PNPOLY odd-crossings), labeled
    with the FIRST containing zone in declaration order ('none'
    otherwise), aggregated to (zone, event_type) counts. The per-edge
    crossing expressions are generated from the same vertex lists into
    both engines, so the float arithmetic matches term for term. Pure
    per-row math over one scan — the geofencing shape that runs at any
    scale (polygon set broadcast as literals; an R-tree only becomes
    worthwhile at thousands of fences)."""
    ev = _located_events(spark, sf_dir)
    zone = None
    for name, verts in reversed(_GEOFENCES):
        test = F.expr(_ray_cast_sql(verts, "lat", "lon"))
        zone = F.when(test, F.lit(name)).otherwise(
            F.lit("none") if zone is None else zone
        )
    return (
        ev.withColumn("zone", zone)
        .groupBy("zone", "event_type")
        .agg(F.count("*").alias("n"))
    )


def _pip_sql() -> str:
    branches = " ".join(
        f"WHEN {_ray_cast_sql(verts, _LAT_SQL, _LON_SQL)} THEN '{name}'"
        for name, verts in _GEOFENCES
    )
    return f"""
SELECT CASE {branches} ELSE 'none' END AS zone, event_type, count(*) AS n
FROM events
GROUP BY CASE {branches} ELSE 'none' END, event_type
"""


POINT_IN_POLYGON_ZONES_SQL = _pip_sql()


def grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-lite spatial clustering by grid density: events bucket into
    5-degree cells; a cell is CORE when its count is at least twice the
    mean occupied-cell density (integer cross-multiplied comparison, no
    float threshold); core cells that touch (8-neighborhood) merge into
    clusters via the O(log n) connected-components operator — the
    standard scalable relaxation of DBSCAN (density cells + component
    merge) that never computes a point-to-point distance join. Cell
    adjacency is an equi-join of each core cell's 9 shifted keys against
    the core-cell set, so candidate edges are bounded by 9x the core
    cells. Output per cluster: representative cell, cell count, event
    count. The DuckDB oracle replays the merge as a recursive-CTE
    transitive closure (the dedup_clusters_minhash precedent) —
    tractable at gate scale while the Spark side holds up on big
    grids."""
    from hadoop_data_lake_spark.operators.graph import dedup_clusters

    ev = read_table(spark, sf_dir, "events").select(
        F.floor(_lat() / 5.0).cast("long").alias("gx"),
        F.floor(_lon() / 5.0).cast("long").alias("gy"),
    )
    cells = ev.groupBy("gx", "gy").agg(F.count("*").alias("cnt"))
    tot = cells.agg(
        F.count("*").alias("n_cells"), F.sum("cnt").alias("n_points")
    )
    core = (
        cells.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * F.col("n_cells") >= 2 * F.col("n_points"))
        .select(
            ((F.col("gx") + 100) * 1000 + (F.col("gy") + 100)).alias("cell"),
            "gx",
            "gy",
            "cnt",
        )
        .localCheckpoint(eager=True)
    )
    shifts = local_frame(
        spark, [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx INT, dy INT"
    )
    shifted = core.crossJoin(F.broadcast(shifts)).select(
        F.col("cell").alias("cell_a"),
        ((F.col("gx") + F.col("dx") + 100) * 1000
         + (F.col("gy") + F.col("dy") + 100)).alias("nkey"),
    )
    edges = (
        shifted.join(
            core.select(F.col("cell").alias("cell_b")),
            shifted["nkey"] == F.col("cell_b"),
        )
        .where(F.col("cell_a") < F.col("cell_b"))
        .select(F.col("cell_a").alias("doc_a"), F.col("cell_b").alias("doc_b"))
        .distinct()
    )
    comp = dedup_clusters(edges).select(
        F.col("doc").alias("cell"), F.col("cluster_rep").alias("rep")
    )
    labeled = core.join(comp, "cell", "left").select(
        F.coalesce("rep", "cell").alias("cluster_rep"), "cnt"
    )
    return labeled.groupBy("cluster_rep").agg(
        F.count("*").alias("n_cells"), F.sum("cnt").alias("n_events")
    )


GRID_DENSITY_CLUSTERS_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT floor({_LAT_SQL} / 5.0)::bigint AS gx,
         floor({_LON_SQL} / 5.0)::bigint AS gy
  FROM events
),
cells AS (SELECT gx, gy, count(*)::bigint AS cnt FROM ev GROUP BY gx, gy),
tot AS (SELECT count(*)::bigint AS n_cells, sum(cnt)::bigint AS n_points FROM cells),
core AS MATERIALIZED (
  SELECT ((gx + 100) * 1000 + (gy + 100))::bigint AS cell, gx, gy, cnt
  FROM cells, tot WHERE cnt * n_cells >= 2 * n_points
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.cell AS ca, b.cell AS cb
  FROM core a
  JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) s(dx, dy) ON TRUE
  JOIN core b ON ((a.gx + s.dx + 100) * 1000 + (a.gy + s.dy + 100)) = b.cell
  WHERE a.cell < b.cell
),
edges2 AS (
  SELECT ca AS a, cb AS b FROM edges UNION ALL SELECT cb, ca FROM edges
),
walk(v, r) AS (
  SELECT a, a FROM edges2
  UNION
  SELECT e.a, w.r FROM edges2 e JOIN walk w ON e.b = w.v
),
comp AS (SELECT v AS cell, min(r) AS rep FROM walk GROUP BY v),
labeled AS (
  SELECT coalesce(c.rep, k.cell) AS cluster_rep, k.cnt
  FROM core k LEFT JOIN comp c ON k.cell = c.cell
)
SELECT cluster_rep, count(*)::bigint AS n_cells, sum(cnt)::bigint AS n_events
FROM labeled GROUP BY cluster_rep
"""
