"""Round-15 optimization tiers: bit-identity and decline contracts.

- `graph._cc_driver` (inside `connected_components`) — exact union-find
  with min-root election over the collected pair list. Must produce the
  identical (vertex, component = min reachable) labeling as the
  large-star/small-star loop on arbitrary inputs (duplicates, reversed
  duplicates, self-loops, string ids), and decline for over-cap or
  mixed-type inputs.
"""

import random

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from hadoop_data_lake_spark.core import driver_tier as DT
from hadoop_data_lake_spark.operators import graph as G


# ------------------------------------------------ connected-components tier


def _cc_both_ways(tiers, df):
    return tiers.on_off(
        lambda: {
            (r[0], r[1])
            for r in G.connected_components(df, "doc_a", "doc_b").collect()
        }
    )


def test_cc_driver_identity_random_graphs(spark, tiers):
    """Union-find tier == star loop on random graphs with duplicates,
    reversed duplicates and self-loops."""
    schema = StructType(
        [StructField("doc_a", LongType()), StructField("doc_b", LongType())]
    )
    rng = random.Random(123)
    for _ in range(5):
        n = rng.randint(1, 50)
        rows = [
            (rng.randint(0, n), rng.randint(0, n)) for _ in range(rng.randint(1, 120))
        ]
        df = spark.createDataFrame(rows, schema)
        a, b = _cc_both_ways(tiers, df)
        assert a == b
        # component = min reachable id: every label <= its vertex
        assert all(c <= v for v, c in a)


def test_cc_driver_identity_string_ids(spark, tiers):
    schema = StructType(
        [StructField("doc_a", StringType()), StructField("doc_b", StringType())]
    )
    rng = random.Random(7)
    rows = [
        (f"d{rng.randint(0, 30):02d}", f"d{rng.randint(0, 30):02d}")
        for _ in range(80)
    ]
    df = spark.createDataFrame(rows, schema)
    a, b = _cc_both_ways(tiers, df)
    assert a == b


def test_cc_driver_declines_mixed_types_and_cap(spark, tiers, monkeypatch):
    # mixed id types: decline (the distributed loop is the behavior oracle)
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)],
        StructType([StructField("u", StringType()), StructField("v", LongType())]),
    )
    raw = df.select(F.col("u"), F.col("v")).localCheckpoint(eager=True)
    assert G._cc_driver(raw) is None
    # over-cap: decline
    small = spark.createDataFrame(
        [(1, 2)],
        StructType([StructField("u", LongType()), StructField("v", LongType())]),
    ).localCheckpoint(eager=True)
    monkeypatch.setattr(DT, "MAX_ROWS", 0)
    assert G._cc_driver(small) is None


def test_dedup_clusters_identity_tier_on_off(spark, tiers):
    """End-to-end: dedup_clusters output (doc, cluster_rep, cluster_size)
    identical with the driver tier on and off."""
    schema = StructType(
        [StructField("doc_a", LongType()), StructField("doc_b", LongType())]
    )
    rows = [(1, 2), (2, 3), (10, 11), (5, 5), (3, 1)]
    df = spark.createDataFrame(rows, schema)
    a, b = tiers.on_off(lambda: {tuple(r) for r in G.dedup_clusters(df).collect()})
    assert a == b
    assert {(1, 1, 3), (2, 1, 3), (3, 1, 3)} <= a


# ------------------------------------------------ prefix_agg driver tier


def test_prefix_agg_driver_identity_random(spark, tiers):
    """Driver tier == two-phase distributed path on random frames with
    multi-column order keys, signed integer sums and mixed-type maxes."""
    from hadoop_data_lake_spark.operators.packing import prefix_agg

    rng = random.Random(17)
    for _ in range(3):
        n = rng.randint(1, 300)
        rows = [
            (
                rng.randint(0, 10**6),
                f"k{rng.randint(0, 40):03d}",
                rng.randint(-100, 100),
                rng.randint(0, 10**4) / 7.0,
            )
            for _ in range(n)
        ]
        df = spark.createDataFrame(rows, "oid long, okey string, val int, fval double")
        args = dict(sum_cols={"s": "val"}, max_cols={"m": "val", "fm": "fval"})
        a, b = tiers.on_off(
            lambda: sorted(map(str, prefix_agg(df, ["oid", "okey"], **args).collect()))
        )
        assert a == b


def test_prefix_agg_driver_declines(spark, tiers, monkeypatch):
    from hadoop_data_lake_spark.operators import packing as P

    # float sum inputs: order-dependent in the low bits -> decline
    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "oid long, fval double")
    assert P._prefix_agg_driver(df, ["oid"], {"s": "fval"}, {}) is None
    # NULL in an involved column -> decline (skip-null window semantics)
    df2 = spark.createDataFrame([(None, 1), (2, 2)], "oid long, val int")
    assert P._prefix_agg_driver(df2, ["oid"], {"s": "val"}, {}) is None
    # over-cap -> decline via the limit probe
    df3 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "oid long, val int")
    monkeypatch.setattr(DT, "MAX_ROWS", 2)
    assert P._prefix_agg_driver(df3, ["oid"], {"s": "val"}, {}) is None
    monkeypatch.undo()
    # int64 overflow envelope -> decline
    big = spark.createDataFrame(
        [(1, 2**62), (2, 2**62)], "oid long, val long"
    )
    assert P._prefix_agg_driver(big, ["oid"], {"s": "val"}, {}) is None
    # tier switch off -> decline
    tiers(False)
    assert P._prefix_agg_driver(df3, ["oid"], {"s": "val"}, {}) is None
