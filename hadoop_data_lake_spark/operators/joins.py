"""Join operators: broadcast dims, unordered-pair self-joins, banded range
joins, and grid distance joins.

Reference surface covered (SURVEY.md §2.3): J2 composite-key self-join,
J3 pair dedup (the `<` id predicate in the grid joins), J4 post-join distance predicate,
J5 left joins, J6 multi-way joins (plain API).

Scale design: a range predicate |a.x - b.x| <= w or a distance predicate
dist(a,b) <= r must never ride on a cross join. We bucket both sides at
width w (resp. grid cell r) and equi-join each left bucket against the
right bucket and its immediate neighbors — Catalyst turns that into a
shuffled (or broadcast) hash join on the bucket key, and the exact predicate
filters within the 3 (resp. 9) candidate cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_data_lake_spark.functions.geo import grid_cell, haversine_km


def broadcast_dim_join(
    fact: DataFrame, dim: DataFrame, on: list[str] | Column, how: str = "inner"
) -> DataFrame:
    """Fact-to-small-dimension join with an explicit broadcast hint (the
    reference relies on the implicit autoBroadcastJoinThreshold; we state it).
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def banded_range_self_join(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    value_col: str,
    band_width: float,
    payload: list[str] | None = None,
) -> DataFrame:
    """All unordered pairs within the same `keys` whose `value_col` differ by
    at most `band_width`, without a quadratic blowup.

    Left side keeps its bucket; right side is exploded into {b-1, b, b+1} so
    every within-width pair meets in exactly one equi-join bucket. Columns
    come back suffixed _l / _r; exact |diff| <= width filter applied after.
    """
    payload = payload or []
    bucket = F.floor(F.col(value_col) / F.lit(band_width)).cast("long")

    lhs = df.select(
        *keys,
        F.col(id_col).alias(f"{id_col}_l"),
        F.col(value_col).alias(f"{value_col}_l"),
        *[F.col(c).alias(f"{c}_l") for c in payload],
        bucket.alias("__bucket"),
    )
    rhs = df.select(
        *keys,
        F.col(id_col).alias(f"{id_col}_r"),
        F.col(value_col).alias(f"{value_col}_r"),
        *[F.col(c).alias(f"{c}_r") for c in payload],
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("__bucket"),
    )
    joined = lhs.join(rhs, on=[*keys, "__bucket"], how="inner").drop("__bucket")
    return joined.where(
        (F.abs(F.col(f"{value_col}_l") - F.col(f"{value_col}_r")) <= band_width)
        & (F.col(f"{id_col}_l") < F.col(f"{id_col}_r"))
    )


def grid_distance_self_join(
    df: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_km: float,
    keys: list[str] | None = None,
    payload: list[str] | None = None,
    max_abs_lat: float = 80.0,
) -> DataFrame:
    """Unordered pairs of rows within `radius_km` haversine distance
    (reference J2+J4 intent, calculate_user_recommendations.py:38-41, with
    the degrees-vs-radians bug B1 fixed).

    Same banding idea in 2-D: left keeps its cell, right explodes into the
    3x3 neighborhood; exact haversine filter afterwards.

    PRECONDITION: the 3x3-neighborhood containment guarantee of grid_cell
    holds only for |lat| <= max_abs_lat (lon cells are sized at that
    latitude; closer to the poles they shrink below the radius and pairs
    would be silently MISSED). Rows beyond the domain raise at runtime
    rather than under-contain.
    """
    keys = keys or []
    payload = payload or []
    cr, cc, n_lon = grid_cell(F.col(lat_col), F.col(lon_col), radius_km, max_abs_lat=max_abs_lat)
    # Enforce the latitude domain in-plan: raise_error inside the cell
    # expression fails the job on the first out-of-domain row (cheap scalar
    # predicate, fused into the projection — no extra pass or action).
    cr = F.when(F.abs(F.col(lat_col)) <= F.lit(max_abs_lat), cr).otherwise(
        F.raise_error(
            F.format_string(
                f"grid_distance_self_join: |{lat_col}| > {max_abs_lat} "
                "(lat=%s) breaks the grid containment guarantee; raise "
                "max_abs_lat or pre-filter polar rows",
                F.col(lat_col).cast("string"),
            )
        )
    )

    def side(suffix: str, explode_cells: bool) -> DataFrame:
        cols = [
            *keys,
            F.col(id_col).alias(f"{id_col}{suffix}"),
            F.col(lat_col).alias(f"{lat_col}{suffix}"),
            F.col(lon_col).alias(f"{lon_col}{suffix}"),
            *[F.col(c).alias(f"{c}{suffix}") for c in payload],
        ]
        if explode_cells:
            # col neighbors wrap modulo the lon cell count (antimeridian).
            neigh = F.array(
                *[
                    F.struct(
                        (cr + dr).alias("r"),
                        (((cc + dc) % n_lon + n_lon) % n_lon).alias("c"),
                    )
                    for dr in (-1, 0, 1)
                    for dc in (-1, 0, 1)
                ]
            )
            # array_distinct: with few lon cells (large radius) wrapped
            # neighbors can coincide — a duplicate cell entry would emit the
            # same pair twice.
            return df.select(*cols, F.explode(F.array_distinct(neigh)).alias("__cell"))
        return df.select(*cols, F.struct(cr.alias("r"), cc.alias("c")).alias("__cell"))

    lhs, rhs = side("_l", False), side("_r", True)
    joined = lhs.join(rhs, on=[*keys, "__cell"], how="inner").drop("__cell")
    dist = haversine_km(
        F.col(f"{lat_col}_l"), F.col(f"{lon_col}_l"), F.col(f"{lat_col}_r"), F.col(f"{lon_col}_r")
    )
    return joined.withColumn("dist_km", dist).where(
        (F.col("dist_km") <= radius_km) & (F.col(f"{id_col}_l") < F.col(f"{id_col}_r"))
    )
