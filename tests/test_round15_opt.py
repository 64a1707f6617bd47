"""Round-15 optimization tiers: bit-identity and decline contracts.

Two new fused driver tiers (OPTIMIZATION_r15.md):

- `graph.pagerank_layered_driver` — the pagerank analogue of the r14 HITS
  fusion: one Arrow collect of the raw edge projection, pair-dedup /
  degrees / layered test / sink histogram / all rounds in numpy-driver
  integers. Must be bit-identical to `pagerank_intexact`'s distributed
  tiers on every layered graph, and DECLINE (None) on non-layered graphs,
  non-integral node types, over-cap bounds and broken bound promises.

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


def _bipartite_edges(spark, seed, n_src=25, n_dst=8, m=120):
    """Random bipartite multigraph: sources >= 0, sinks < 0 (disjoint id
    spaces — the purchase-graph shape pagerank_det feeds the tier)."""
    rng = random.Random(seed)
    rows = [
        (rng.randint(0, n_src), -rng.randint(1, n_dst))
        for _ in range(m)
    ]
    return spark.createDataFrame(
        rows,
        StructType([StructField("src", LongType()), StructField("dst", LongType())]),
    )


# ------------------------------------------------ pagerank fused tier


def test_pagerank_layered_driver_bit_identity(spark, tiers):
    """Fused tier == distributed loop on random bipartite multigraphs,
    raw (pre-dedup) edges in, across iteration counts."""
    from pyspark.sql import Window

    for seed, iters in [(1, 1), (2, 3), (3, 10)]:
        e_raw = _bipartite_edges(spark, seed)
        got = G.pagerank_layered_driver(
            e_raw, "src", "dst", iters=iters, n_edges_bound=e_raw.count()
        )
        assert got is not None
        a = {(r["node"], r["rank_units"]) for r in got.collect()}
        tiers(False)
        edges = (
            e_raw.repartition("src")
            .dropDuplicates(["src", "dst"])
            .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        )
        b = {
            (r["node"], r["rank_units"])
            for r in G.pagerank_intexact(edges, iters=iters, deg_col="deg").collect()
        }
        tiers(True)
        assert a == b, f"seed={seed} iters={iters}"


def test_pagerank_layered_driver_declines(spark, tiers):
    e = _bipartite_edges(spark, 7)
    n = e.count()
    # non-layered: a node on both sides
    mixed = e.unionByName(
        spark.createDataFrame(
            [(-1, 5)],
            StructType(
                [StructField("src", LongType()), StructField("dst", LongType())]
            ),
        )
    )
    assert G.pagerank_layered_driver(mixed, "src", "dst", n_edges_bound=n + 1) is None
    # missing / over-cap bound
    assert G.pagerank_layered_driver(e, "src", "dst", n_edges_bound=None) is None
    assert (
        G.pagerank_layered_driver(
            e, "src", "dst", n_edges_bound=DT.NUMPY_MAX_ROWS + 1
        )
        is None
    )
    # broken bound promise (bound below the true collected count)
    assert G.pagerank_layered_driver(e, "src", "dst", n_edges_bound=1) is None
    # non-integral node type
    se = spark.createDataFrame(
        [("a", "x"), ("b", "x")],
        StructType([StructField("src", StringType()), StructField("dst", StringType())]),
    )
    assert G.pagerank_layered_driver(se, "src", "dst", n_edges_bound=2) is None
    # tier switch pinned off
    tiers(False)
    assert G.pagerank_layered_driver(e, "src", "dst", n_edges_bound=n) is None


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
