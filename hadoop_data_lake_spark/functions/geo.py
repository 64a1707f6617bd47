"""Geospatial scalar functions.

Haversine great-circle distance with the degrees->radians conversion the
reference omits (save_mes_geo.py:39 and calculate_user_recommendations.py:40
feed raw degrees into sin/cos — SURVEY.md §2.9-B1). Earth radius 6371 km as
in the reference (save_mes_geo.py:34).

Also provides the grid-cell key used to turn O(events x cities) cross joins
and O(n^2) radius self-joins into cell-local equi-joins (SURVEY.md §7.4):
at 100 TB you never crossJoin; you join on a spatial bucket and check the
exact predicate only within the 3x3 neighborhood.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two (degree) coordinate pairs."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) ** 2
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


#: `haversine_km` as Spark SQL: ``HAVERSINE_A_SQL`` is its inner term ``a``
#: over four SQL operands and ``HAVERSINE_KM_SQL`` the distance over ``a``.
#: Both are the expression trees `haversine_km` builds (tests/test_geo.py
#: compares the analyzed plans), so the two forms are bit-identical. Spark
#: SQL's ``^`` is XOR, hence ``power``.
HAVERSINE_A_SQL = (
    "(power(sin(radians({lat2} - {lat1}) / 2), 2) + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "power(sin(radians({lon2} - {lon1}) / 2), 2))"
)
HAVERSINE_KM_SQL = f"(asin(sqrt({{a}})) * {2 * EARTH_RADIUS_KM!r}D)"


def grid_cell(
    lat: Column, lon: Column, cell_km: float, max_abs_lat: float = 80.0
) -> tuple[Column, Column, int]:
    """(row, col, n_lon_cells) integer cell of a lat/lon point on a grid
    whose 3x3 neighborhood is guaranteed to contain every point within
    cell_km, for |lat| <= max_abs_lat.

    Latitude degrees are ~111.32 km everywhere. Longitude degrees SHRINK
    with latitude (111.32 * cos(lat) km), so the lon cell width is sized for
    the worst latitude the dataset may contain — cells over-contain near the
    equator (more candidates, still correct) instead of under-containing
    near the poles (missed pairs). Columns wrap modulo n_lon_cells so
    antimeridian neighbors land in adjacent cells; callers exploding the
    3x3 neighborhood must wrap col±1 the same way.
    """
    lat_deg = cell_km / 111.32
    lon_deg = cell_km / (111.32 * math.cos(math.radians(max_abs_lat)))
    n_lon = max(1, int(math.ceil(360.0 / lon_deg)))
    row = F.floor(lat / F.lit(lat_deg)).cast("long")
    col = ((F.floor((lon + F.lit(180.0)) / F.lit(lon_deg)).cast("long") % n_lon) + n_lon) % n_lon
    return row, col, n_lon


def tz_from_lon(lon: Column) -> Column:
    """Deterministic nautical timezone from longitude: 15-degree bands
    mapped to IANA fixed-offset zones (`Etc/GMT-9` == UTC+9 — POSIX sign
    inversion). The engine-native fallback for the reference's
    timezonefinder coordinate lookup (calculate_user_city.py:28-38,
    SURVEY.md §2.8/§7.5): pure column arithmetic (JVM-side, oracle-
    replayable), exact for ocean/nautical zones, approximate over land
    where political boundaries deviate. For boundary-exact semantics use
    `tz_from_coords_udf` when the optional library is installed."""
    off = F.floor((lon + 7.5) / 15.0).cast("int")
    return F.concat(
        F.lit("Etc/GMT"),
        F.when(off > 0, F.concat(F.lit("-"), off.cast("string")))
        .when(off < 0, F.concat(F.lit("+"), (-off).cast("string")))
        .otherwise(F.lit("+0")),
    )


TZ_FROM_LON_SQL = (
    "('Etc/GMT' || CASE WHEN floor(({lon} + 7.5) / 15.0) > 0 "
    "THEN '-' || CAST(floor(({lon} + 7.5) / 15.0) AS INT) "
    "WHEN floor(({lon} + 7.5) / 15.0) < 0 "
    "THEN '+' || CAST(-floor(({lon} + 7.5) / 15.0) AS INT) "
    "ELSE '+0' END)"
)


def tz_from_coords_udf():
    """Boundary-exact timezone name from (lon, lat) via the optional
    `timezonefinder` package — the reference's exact semantics
    (calculate_user_city.py:28-38) as an Arrow-batched pandas UDF with the
    finder memoized per worker process (the reference memoizes via
    cachetools; a module-level singleton does the same job). Returns None
    when the library is absent — callers fall back to `tz_from_lon`."""
    try:
        import timezonefinder  # noqa: F401
    except ImportError:
        return None

    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    _state: dict = {}

    @pandas_udf(StringType())
    def _tz(lon: pd.Series, lat: pd.Series) -> pd.Series:
        if "tf" not in _state:
            from timezonefinder import TimezoneFinder

            _state["tf"] = TimezoneFinder()
        tf = _state["tf"]
        return pd.Series(
            [tf.timezone_at(lng=x, lat=y) for x, y in zip(lon, lat)]
        )

    return _tz


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_of(lat: Column, lon: Column, precision: int = 8) -> Column:
    """Standard geohash string of (lat, lon) — the spatial CELL INDEX that
    turns point data into groupable/joinable keys (per-cell rollups,
    cell-equality spatial joins, prefix truncation = coarser cells).

    Construction is the textbook one, expressed as pure column arithmetic:
    quantize both axes to 20 bits, interleave with the existing Morton
    spread (lon on odd bit positions so the MSB-first read alternates
    lon, lat — the geohash bit order), then map each 5-bit group through
    the base-32 alphabet. Bit-replayable in any engine: quantization is
    floor((coord+offset)/range * 2^20) on identical doubles, everything
    after is integer."""
    from hadoop_data_lake_spark.operators.layout import morton_code

    q = 1 << 20
    lat_q = F.least(F.floor((lat + 90.0) / 180.0 * q), F.lit(q - 1)).cast("long")
    lon_q = F.least(F.floor((lon + 180.0) / 360.0 * q), F.lit(q - 1)).cast("long")
    code = morton_code(lat_q, lon_q)  # lat even bits, lon odd => lon leads MSB-first
    letters = F.array(*[F.lit(c) for c in GEOHASH_ALPHABET])
    chars = [
        F.element_at(
            letters,
            (F.shiftrightunsigned(code, 35 - 5 * i).bitwiseAND(F.lit(31))).cast("int")
            + 1,
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lat: str, lon: str, precision: int = 8) -> str:
    """DuckDB replay of `geohash_of` (same quantization, same Morton
    spread, same alphabet indexing)."""
    from hadoop_data_lake_spark.operators.layout import morton_code_sql

    q = 1 << 20
    lat_q = f"least(floor(({lat} + 90.0) / 180.0 * {q}), {q - 1})::bigint"
    lon_q = f"least(floor(({lon} + 180.0) / 360.0 * {q}), {q - 1})::bigint"
    code = morton_code_sql(f"({lat_q})", f"({lon_q})")
    parts = " || ".join(
        f"substr('{GEOHASH_ALPHABET}', ((({code}) >> {35 - 5 * i}) & 31)::int + 1, 1)"
        for i in range(precision)
    )
    return f"({parts})"
