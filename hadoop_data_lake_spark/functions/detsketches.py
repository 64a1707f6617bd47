"""Deterministic, oracle-replayable sketches: HLL, KMV, count-min.

The native Spark sketch surface (`functions/sketches.py`,
`approx_count_distinct`, `approx_percentile`) is mergeable and fast but its
estimates are algorithm-specific — an external SQL engine cannot reproduce
them bit-for-bit, so their registry entries are rows-only and the real
verification lives in error-bound pytests. That leaves the sketch family
outside the value-hash correctness gate.

This module closes that gap the same way `ann_lsh_det` / `ann_pq_det` did
for ANN: re-derive each sketch from the PORTABLE 60-bit md5 hash
(`functions/hashing.py`) and keep every post-hash step either integer-exact
or a single identical float expression, so DuckDB replays the whole
estimate from the same parquet and the driver's value-hash compare passes.

Determinism rules used throughout:
  * hashes: md5_60bit / salted_md5_60bit (JVM-side md5, whole-stage codegen
    — no Python);
  * register/bucket state is INTEGER (max-rho per HLL bucket, k-min hash
    values, count-min cell counts) — integer aggregation is associative, so
    partition order can never change a result;
  * the float estimate is ONE closed-form expression over those integers,
    evaluated by both engines on identical inputs (IEEE ops; ln only where
    the classic formula demands it, then rounded — the tf_idf precedent);
  * scale-critical sums use power-of-two terms held as exact bigints
    (shiftleft), never accumulated doubles.

All three sketches keep the mergeable-partials shape that makes sketches
worth using at 100 TB: the expensive pass is one shuffle of the facts down
to tiny integer state (256 registers / k hashes / d*w cells per group), and
any coarser rollup merges state without re-reading the facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_data_lake_spark.functions.hashing import (
    md5_60bit,
    md5_60bit_sql,
    salted_md5_60bit,
    salted_md5_60bit_sql,
)

# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007), deterministic variant
# ---------------------------------------------------------------------------

HLL_P = 8  #: 2^8 = 256 registers — ~6.5% standard error, plenty for a demo grain
_HLL_M = 1 << HLL_P
#: bias-correction constant alpha_m for m >= 128 (the published formula);
#: interpolated as a literal into BOTH engines' expressions so the float is
#: identical by construction.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


def hll_det_estimate(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Per-`keys` deterministic HLL distinct estimate of `value_col`.

    h = md5_60bit(value); bucket = h mod m (low p bits); w = h div m
    (the remaining 60-p bits); rho(w) = leading-zero count of w within
    60-p bits, plus one = (60-p+1) - bitlength(w). bitlength comes from
    `length(bin(w))` — bin() prints no leading zeros in both engines, so
    it is exact where floor(log2()) is one ulp from wrong.

    Register state: M_j = max rho per bucket (integer). The indicator sum
    sum_j 2^-M_j is held exactly as the bigint sum_j 2^(Q-M_j) with
    Q = 60-p+1 (every term a shiftleft; max m*2^Q = 2^61 < 2^63), absent
    buckets contributing 2^Q. The estimate is then one float expression:

        E_raw = alpha * m^2 * 2^Q / S
        E     = m * ln(m / V)   if V > 0 and E_raw <= 2.5m   (linear counting)

    Columns out: *keys, est (double, unrounded — callers round for the
    value-hash gate).
    """
    m = _HLL_M
    q = 60 - HLL_P + 1  # rho for w == 0 (all 60-p payload bits zero)
    h = md5_60bit(F.col(value_col).cast("string"))
    regs = (
        df.select(*keys, h.alias("h"))
        .select(
            *keys,
            (F.col("h") % m).alias("bucket"),
            F.expr(f"h div {m}").alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(q)).otherwise(
                F.lit(q) - F.length(F.expr("bin(w)"))
            ),
        )
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("mj"))
    )
    agg = regs.groupBy(*keys).agg(
        F.count("*").alias("n_present"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {q} - mj)")).alias("s_present"),
    )
    s_total = F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(1 << q)
    v_zero = F.lit(m) - F.col("n_present")
    e_raw = F.lit(HLL_ALPHA * m * m * float(1 << q)) / s_total.cast("double")
    est = F.when(
        (v_zero > 0) & (e_raw <= F.lit(2.5 * m)),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(e_raw)
    return agg.select(*keys, est.alias("est"))


def hll_det_estimate_sql(table_sql: str, keys: list[str], value_expr: str) -> str:
    """DuckDB replay of hll_det_estimate: same hash, same integer registers,
    same single float expression (alpha literal interpolated from the same
    Python float)."""
    m = _HLL_M
    q = 60 - HLL_P + 1
    ks = ", ".join(keys)
    h = md5_60bit_sql(value_expr)
    return f"""
WITH hh AS (
  SELECT {ks}, {h} AS h FROM {table_sql}
),
regs AS (
  SELECT {ks}, h % {m} AS bucket,
         max(CASE WHEN h // {m} = 0 THEN {q}
                  ELSE {q} - length(bin(h // {m})) END) AS mj
  FROM hh GROUP BY {ks}, h % {m}
),
agg AS (
  SELECT {ks}, count(*) AS n_present,
         sum((1::bigint << ({q} - mj)))::bigint AS s_present
  FROM regs GROUP BY {ks}
)
SELECT {ks},
       CASE WHEN ({m} - n_present) > 0
             AND ({HLL_ALPHA * m * m * float(1 << q)!r}
                  / (s_present + ({m} - n_present) * {1 << q}::bigint)::double)
                 <= {2.5 * m!r}
            THEN {float(m)!r} * ln({float(m)!r} / ({m} - n_present)::double)
            ELSE {HLL_ALPHA * m * m * float(1 << q)!r}
                 / (s_present + ({m} - n_present) * {1 << q}::bigint)::double
       END AS est
FROM agg
"""


# ---------------------------------------------------------------------------
# KMV / k-minimum-values (Bar-Yossef et al. 2002; the Theta-sketch core)
# ---------------------------------------------------------------------------

KMV_K = 64  #: relative error ~ 1/sqrt(k-2) ~ 13%


def kmv_minima(df: DataFrame, keys: list[str], value_col: str, k: int = KMV_K) -> DataFrame:
    """The mergeable KMV state: the k smallest DISTINCT 60-bit hashes per
    group (columns *keys, h). Unions of groups merge by re-taking the k
    smallest of the concatenated states — never touching the facts again."""
    hashed = df.select(
        *keys, md5_60bit(F.col(value_col).cast("string")).alias("h")
    ).distinct()
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_estimate(minima: DataFrame, keys: list[str], k: int = KMV_K) -> DataFrame:
    """(k-1) / normalized k-th minimum; exact count when the group holds
    fewer than k distinct values (the sketch IS the value set then).
    Columns out: *keys, est (double, unrounded)."""
    agg = minima.groupBy(*keys).agg(
        F.count("*").alias("n_min"), F.max("h").alias("hk")
    )
    est = F.when(F.col("n_min") < k, F.col("n_min").cast("double")).otherwise(
        F.lit(float((k - 1) * (1 << 60))) / F.col("hk").cast("double")
    )
    return agg.select(*keys, est.alias("est"))


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005), deterministic variant
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 512


def cms_sketch(items: DataFrame, item_col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """The d x w integer cell table (r, b, cnt): one shuffle of the items
    down to depth*width bigint cells — the mergeable state (cells add)."""
    pos = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                (salted_md5_60bit(F.col(item_col), i) % width).alias("b"),
            )
            for i in range(depth)
        ]
    )
    return (
        items.select(F.explode(pos).alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_sketch_weighted(
    counts: DataFrame, item_col: str, weight_col: str,
    depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
) -> DataFrame:
    """`cms_sketch` over a PRE-AGGREGATED (item, weight) frame: each cell
    sums the weights instead of counting stream rows — identical cells,
    because per-cell addition commutes with the per-item pre-aggregation.
    The aggregate-first form: a token stream's count table is
    vocabulary-bounded, so sketching it costs one fact pass + a tiny
    shuffle instead of shuffling the full stream."""
    pos = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                (salted_md5_60bit(F.col(item_col), i) % width).alias("b"),
            )
            for i in range(depth)
        ]
    )
    return (
        counts.select(F.col(weight_col).alias("w"), F.explode(pos).alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.b").alias("b"))
        .agg(F.sum("w").alias("cnt"))
    )


def cms_point_estimates(
    sketch: DataFrame, candidates: DataFrame, item_col: str,
    depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
) -> DataFrame:
    """min over rows of the candidate's cell counts — the classic point
    query, guaranteed >= the true count. `sketch` is tiny (d*w cells), so
    the probe is a broadcast join against the candidate set."""
    pos = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                (salted_md5_60bit(F.col(item_col), i) % width).alias("b"),
            )
            for i in range(depth)
        ]
    )
    probes = candidates.select(item_col, F.explode(pos).alias("p")).select(
        item_col, F.col("p.r").alias("r"), F.col("p.b").alias("b")
    )
    return (
        probes.join(F.broadcast(sketch), on=["r", "b"])
        .groupBy(item_col)
        .agg(F.min("cnt").alias("cms_est"))
    )


def cms_cells_sql(items_sql: str, item_expr: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> str:
    """DuckDB fragment producing the same (r, b, cnt) cell table."""
    hb = salted_md5_60bit_sql(item_expr, "i.range")
    return f"""
  SELECT i.range AS r, {hb} % {width} AS b, count(*) AS cnt
  FROM ({items_sql}) it CROSS JOIN range({depth}) i
  GROUP BY i.range, {hb} % {width}
"""
