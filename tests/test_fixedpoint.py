"""functions/fixedpoint.to_units: the primitive half-away-from-zero
rounding matches F.round on real money columns and DuckDB's round on the
fixed-point contract's domain."""

import random

from conftest import SF01_DIR
from pyspark.sql import functions as F


def test_to_units_matches_round_on_every_real_money_column(spark):
    """to_units now uses signum*floor(abs+0.5) instead of the BigDecimal
    Round (1.7x on the q1 aggregate). Under the fixed-point contract the
    forms are identical; this pins row-level equality against F.round on
    every real corpus column that flows through sum_fixed/avg_fixed."""
    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units

    sf = SF01_DIR
    cols = {
        "lineitem": [("l_quantity", 2), ("l_extendedprice", 2),
                     ("l_discount", 2), ("l_tax", 2)],
        "orders": [("o_totalprice", 2)],
        "customer": [("c_acctbal", 2)],  # negative balances exist
        "events": [("value", 2), ("value", 4), ("value", 6)],
    }
    for table, specs in cols.items():
        df = read_table(spark, sf, table)
        for c, scale in specs:
            legacy = F.round(F.col(c) * F.lit(10**scale)).cast("long")
            diffs = (
                df.select(
                    to_units(F.col(c), scale).alias("new"),
                    legacy.alias("old"),
                )
                .where(~F.col("new").eqNullSafe(F.col("old")))
                .count()
            )
            assert diffs == 0, f"{table}.{c} scale={scale}: {diffs} diffs"


def test_to_units_edge_values(spark):
    """Signs, exact halves, nulls, and the derived-expression shapes q1
    uses (products of 2-decimal values at scale 4/6)."""
    from hadoop_data_lake_spark.functions.fixedpoint import to_units

    rows = [(0.0,), (-0.0,), (2.5,), (-2.5,), (0.005,), (-0.005,),
            (123.456,), (-123.455,), (None,), (0.1,), (0.07,)]
    df = spark.createDataFrame(rows, "x double")
    got = {
        r["x"]: r["u"]
        for r in df.select("x", to_units(F.col("x"), 2).alias("u")).collect()
    }
    assert got[2.5] == 250 and got[-2.5] == -250
    assert got[0.005] == 1 and got[-0.005] == -1  # half away from zero
    assert got[123.456] == 12346 and got[-123.455] == -12346
    assert got[None] is None
    # product-of-decimals shape (disc_price at scale 4): 0.1*0.07=0.007..
    prod = spark.createDataFrame([(0.1, 0.07)], "a double, b double")
    u = prod.select(
        to_units(F.col("a") * (1 - F.col("b")), 4).alias("u")
    ).first()["u"]
    assert u == 930  # 0.1 * 0.93 = 0.093 -> 930 units at scale 4


def test_to_units_duckdb_parity_on_contract_domain(spark):
    """The oracle-parity claim, pinned directly: for values honoring the
    fixed-point contract (k <= scale true decimals), Spark's primitive
    to_units equals DuckDB's round(x * 10^s)::bigint row-for-row —
    randomized over signs, magnitudes, and decimal widths (seeded)."""
    import duckdb

    from hadoop_data_lake_spark.functions.fixedpoint import to_units

    rng = random.Random(0xF1DE)
    vals = []
    for _ in range(4000):
        scale = rng.choice([2, 4, 6])
        k = rng.randint(0, scale)  # true decimals, within the contract
        mag = rng.choice([1, 10, 1_000, 100_000, 10_000_000])
        x = rng.randint(-(mag * 10**k), mag * 10**k) / 10**k
        vals.append((x, scale))
    for scale in (2, 4, 6):
        xs = [x for x, s in vals if s == scale]
        sdf = spark.createDataFrame([(v,) for v in xs], "x double")
        got = [
            r["u"]
            for r in sdf.select(to_units(F.col("x"), scale).alias("u"))
            .orderBy("x")
            .collect()
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE t(x DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in xs])
        want = [
            r[0]
            for r in con.execute(
                f"SELECT round(x * {10**scale})::bigint FROM t ORDER BY x"
            ).fetchall()
        ]
        assert got == want, f"scale={scale}: first diff at " + str(
            next((i, a, b) for i, (a, b) in enumerate(zip(got, want)) if a != b)
        )
