"""Regression tests for the round-11 fixes (VERDICT r10 items + ADVICE r10).

- operators/graph.broadcast_bounded_state: the state-broadcast cap is now
  byte-aware (rows x estimated schema width) in ADDITION to the 1M row cap,
  so a wide-state algorithm (string labels, array payloads) can't ship a
  multi-GB broadcast that a narrow (long, long) rank frame of the same row
  count would legitimately pass.
- tools/degenerate_sweep: --plans now builds the table-derived corpora
  (where empty_facts lives) even under --events-only.
"""

import pytest
from pyspark.sql import functions as F


def test_est_row_bytes_widths():
    import hadoop_data_lake_spark.operators.graph as G
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    narrow = StructType(
        [StructField("node", LongType()), StructField("rank", LongType())]
    )
    wide = StructType(
        [
            StructField("node", LongType()),
            StructField("label", StringType()),
            StructField("payload", ArrayType(LongType())),
        ]
    )
    assert G._est_row_bytes(narrow) == 16
    # complex columns are priced pessimistically (>= 256 each)
    assert G._est_row_bytes(wide) >= 8 + 48 + 256


def test_broadcast_state_byte_cap_blocks_wide_state(spark):
    """A state frame under the ROW cap but over the BYTE cap must NOT get
    the broadcast hint; the same row count with a narrow schema must."""
    import hadoop_data_lake_spark.operators.graph as G

    narrow = spark.createDataFrame([(1, 2)], "node long, rank long")
    wide = narrow.withColumn("payload", F.array(F.lit(1), F.lit(2))).withColumn(
        "label", F.lit("x")
    )
    n_rows = 900_000  # under BROADCAST_STATE_MAX_ROWS
    assert n_rows <= G.BROADCAST_STATE_MAX_ROWS
    # narrow: 900k x 16B = ~14 MB — broadcasts (hint returns a NEW frame)
    assert G.broadcast_bounded_state(narrow, n_rows) is not narrow
    # wide: 900k x >=312B = ~280 MB — over the 64 MB byte cap, unchanged
    assert G.broadcast_bounded_state(wide, n_rows) is wide
    # row cap still binds first regardless of width
    assert G.broadcast_bounded_state(narrow, G.BROADCAST_STATE_MAX_ROWS + 1) is narrow
    # unknown / negative counts never broadcast
    assert G.broadcast_bounded_state(narrow, None) is narrow
    assert G.broadcast_bounded_state(narrow, -1) is narrow


def test_degenerate_sweep_plans_mode_builds_table_cases(spark):
    """--plans + --events-only used to KeyError on cases['empty_facts'];
    build_cases must include the table-derived corpora whenever the plan
    probe will run."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from degenerate_sweep import build_cases

    cases, events_cases = build_cases(spark, events_only=True, plans_mode=True)
    assert "empty_facts" in cases
    assert "empty_facts" not in events_cases
    cases2, _ = build_cases(spark, events_only=True, plans_mode=False)
    assert "empty_facts" not in cases2


def test_scaled_params_law():
    """similarity.scaled_srp_params / scaled_ivf_params — the measured ANN
    scale law (the 100x probe's LSH_SCALED / IVF_SCALED in BENCH_NOTES.md) as an
    API. At the graded corpus size the law lands exactly on the shipped
    registry defaults; at every size the derived (bands, bits) must hold
    the banded recall bound >= 98% at the 0.95 threshold and keep the
    collision term bands/2^bits under the 1x default's."""
    import math

    from hadoop_data_lake_spark.operators.similarity import (
        scaled_ivf_params,
        scaled_srp_params,
    )

    # graded scale (sf0.01 embeddings corpus, n = 500): exactly the
    # registry defaults
    assert scaled_srp_params(500) == (8, 8)
    assert scaled_ivf_params(500) == (8, 2)
    # the measured probe anchors (LSH_SCALED / IVF_SCALED at 10x/100x of
    # the n=500 base): same occupancy regime as the hand-tuned values
    assert scaled_srp_params(5000) == (12, 12)  # hand: (12, 12)
    assert scaled_srp_params(50000) == (18, 15)  # hand: (24, 16)
    assert scaled_ivf_params(5000) == (24, 3)  # hand: (25, 3)
    assert scaled_ivf_params(50000) == (75, 4)  # hand: (80, 4)

    p = 1 - math.acos(0.95) / math.pi
    base_collision = 8 / 2**8
    for n in (100, 6_000, 60_000, 600_000, 6_000_000, 10**9):
        bands, bits = scaled_srp_params(n)
        recall = 1 - (1 - p**bits) ** bands
        assert recall >= 0.98, (n, bands, bits, recall)
        assert bands / 2**bits <= base_collision, (n, bands, bits)
        n_cells, nprobe = scaled_ivf_params(n)
        assert 1 <= nprobe <= n_cells
    # monotone bucket growth: bigger corpora never get fewer bits/cells
    bits_seq = [scaled_srp_params(10**e)[1] for e in range(2, 10)]
    assert bits_seq == sorted(bits_seq)
    cells_seq = [scaled_ivf_params(10**e)[0] for e in range(2, 10)]
    assert cells_seq == sorted(cells_seq)


def test_auto_scale_is_opt_in_and_value_consistent(spark):
    """auto_scale=True must (a) not change the default code path (opt-in),
    (b) produce exactly the pairs the explicit scaled parameters produce,
    and (c) still find planted near-duplicates."""
    import numpy as np
    from hadoop_data_lake_spark.operators.similarity import (
        cosine_near_dup_pairs,
        ivf_kmeans_topk,
        scaled_srp_params,
    )

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 64))
    rows = []
    for i, v in enumerate(base):
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        if i < 5:  # plant a near-dup twin (tiny perturbation)
            w = v + 0.01 * rng.standard_normal(64)
            w = w / np.linalg.norm(w)
            rows.append((1000 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    n = df.count()
    bands, bits = scaled_srp_params(n)
    explicit = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(
            df, threshold=0.95, num_bands=bands, bits_per_band=bits
        ).collect()
    }
    auto = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(df, threshold=0.95, auto_scale=True).collect()
    }
    assert auto == explicit
    planted = {(i, 1000 + i) for i in range(5)}
    assert planted <= auto

    out = ivf_kmeans_topk(
        df, df.where("vec_id < 3"), k=2, auto_scale=True
    ).collect()
    assert {r["query_id"] for r in out} == {0, 1, 2}
    assert all(1 <= r["rnk"] <= 2 for r in out)


def test_ivf_scan_budget_knob(spark):
    """scan_budget is the measured multi-probe recall lever (VERDICT r10
    item 7): nprobe = ceil(budget * n_cells). At budget 1.0 every cell is
    probed, so IVF must return EXACTLY the brute-force top-k (same scoring
    and tie-break); at a partial budget recall must be monotone in the
    budget on a clustered corpus."""
    import numpy as np
    from hadoop_data_lake_spark.operators.similarity import (
        brute_force_topk,
        ivf_kmeans_topk,
        scaled_ivf_params,
    )

    # parameter arithmetic
    for n in (5_000, 600_000):
        cells, _ = scaled_ivf_params(n)
        assert scaled_ivf_params(n, scan_budget=1.0) == (cells, cells)
        _, p24 = scaled_ivf_params(n, scan_budget=0.24)
        assert 1 <= p24 <= cells and p24 >= 0.24 * cells
    # graded default path unchanged by the knob's existence
    assert scaled_ivf_params(500) == (8, 2)

    # clustered corpus: 8 well-separated centers, 30 points each
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 64)) * 10
    rows = []
    for i in range(240):
        v = centers[i % 8] + 0.1 * rng.standard_normal(64)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where("vec_id < 8")

    truth = {
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in brute_force_topk(df, q, k=3).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in ivf_kmeans_topk(
            df, q, k=3, auto_scale=True, scan_budget=1.0
        ).collect()
    }
    assert full == truth

    def recall(budget):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_kmeans_topk(
                df, q, k=3, auto_scale=True, scan_budget=budget
            ).collect()
        }
        return len(got & {(a, b) for a, b, _ in truth}) / len(truth)

    r_small, r_big = recall(0.13), recall(0.5)
    assert r_small <= r_big <= 1.0
    # on a tightly clustered corpus one probed cell already holds the
    # query's whole cluster — even the minimal budget clears 0.9
    assert r_small >= 0.9



def test_hits_uses_public_broadcast_helper():
    """queries/tpch_queries must not reach into the private _bcast_state
    (ADVICE r10) and must not re-count state frames per rescale."""
    import inspect

    from hadoop_data_lake_spark.queries import tpch_queries as T

    src = inspect.getsource(T.hits_hubs_authorities)
    assert "_bcast_state" not in src
    assert "broadcast_bounded_state" in src
    assert "df.count()" not in src


def test_bench_calm_box_gate(monkeypatch):
    """VERDICT r10 item 5: the calm-box discipline lives in bench.py itself.
    Calm box -> no wait; loaded box -> bounded wait that times out and
    proceeds (never blocks the driver forever), with a self-describing
    record either way."""
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    bench = importlib.import_module("bench")

    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.1, 0.1, 0.1))
    rec = bench.wait_for_calm_box()
    assert rec["load_at_start"] == 0.1 and not rec["timed_out"]
    assert rec["waited_s"] < 1.0

    monkeypatch.setenv("SPARK_GRAFT_CALM_LOAD", "2.0")
    monkeypatch.setenv("SPARK_GRAFT_CALM_WAIT_S", "0.2")
    sleeps = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: sleeps.append(s))
    # monotonic advances past max_wait after the first poll loop check
    ticks = iter([0.0, 0.0, 0.5, 0.5])
    monkeypatch.setattr(bench.time, "monotonic", lambda: next(ticks))
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.0, 9.0, 9.0))
    rec = bench.wait_for_calm_box()
    assert rec["timed_out"] and rec["load_at_invoke"] == 9.0
    assert sleeps  # it did wait before giving up


def _pr_both_tiers(spark, tiers, rows, iters=4):
    """Run pagerank_intexact with the driver tiers ON vs OFF on the same
    edge list; return the two sorted (node, rank_units) lists."""
    import hadoop_data_lake_spark.operators.graph as G

    e = spark.createDataFrame(rows, "src int, dst int")
    return tiers.on_off(
        lambda: sorted(
            (r["node"], r["rank_units"])
            for r in G.pagerank_intexact(e, iters=iters).collect()
        )
    )


def test_general_driver_tier_bit_identical(spark, tiers):
    """General-graph driver tier: byte-for-byte the distributed
    loop's integer recurrence, on a graph with every structural feature the
    loop handles — dangling nodes (5 has no out-edge), zero-in-degree
    nodes (1 is never a destination), duplicate (multi-)edges, a cycle,
    and a self-referential cluster. Non-layered (node 2 has both in- and
    out-edges), so with the tiers off the general loop answers."""
    rows = [
        (1, 2), (2, 3), (3, 2),          # cycle w/ mid nodes
        (2, 5), (4, 5), (4, 5),          # dangling sink 5, dup edge
        (3, 4), (1, 4),
    ]
    fast, dist = _pr_both_tiers(spark, tiers, rows)
    assert fast == dist
    assert len(fast) == 5
    # mass sanity: total rank stays ~scale (integer truncation only)
    assert abs(sum(r for _, r in fast) - 10**12) < 10**7


def _lpa_rows_both_tiers(spark, tiers, rows, ddl, weight, iters):
    import hadoop_data_lake_spark.operators.graph as G

    e = spark.createDataFrame(rows, ddl)
    src, dst = e.columns[:2]
    return tiers.on_off(
        lambda: sorted(
            map(
                tuple,
                G.lpa_communities(
                    e, src=src, dst=dst, weight=weight, iters=iters
                ).collect(),
            )
        )
    )


def test_lpa_driver_tier_bit_identical(spark, tiers):
    """LPA driver tier: same (score desc, label asc) synchronous
    recurrence as the distributed loop, string labels + integer weights,
    including a weight-tied pair (the tie-break path) and an isolated
    2-clique."""
    rows = [
        ("a", "b", 3), ("b", "c", 3),      # tie at b: labels a vs c
        ("c", "d", 5), ("a", "d", 1),
        ("x", "y", 2),                      # separate component
    ]
    fast, dist = _lpa_rows_both_tiers(
        spark, tiers, rows, "brand_a string, brand_b string, n_orders long",
        "n_orders", 4,
    )
    assert fast == dist
    assert len(fast) == 6


def test_lpa_driver_tier_caps_route_to_distributed(spark, monkeypatch):
    """Above either measured cap lpa_communities must take the distributed
    loop (no collect of an unbounded edge list) — same probe as the
    pagerank cap test: the distributed loop's labels frame is an iterated
    localCheckpoint (Scan ExistingRDD), never a local frame."""
    import hadoop_data_lake_spark.core.driver_tier as DT
    import hadoop_data_lake_spark.operators.graph as G

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2)], "brand_a string, brand_b string, w long"
    )
    for cap in ("MAX_NODES", "MAX_ROWS"):
        monkeypatch.undo()
        monkeypatch.setattr(DT, cap, 0)
        df = G.lpa_communities(e, src="brand_a", dst="brand_b", weight="w", iters=1)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan, cap


def test_driver_tier_property_random_graphs(spark, tiers):
    """Property harness for the graph driver tiers: on random small
    digraphs (dangling nodes, self-referential pairs, duplicate edges,
    multiple components all arise naturally), pagerank_intexact and
    lpa_communities must return BIT-identical results with the tiers on
    vs off. Seeded stdlib RNG, a handful of draws, one Spark pipeline per
    draw — the hypothesis float strategies are avoided per
    tests/test_properties.py's container note, and graph shapes need
    structured randomness anyway."""
    import random

    rng = random.Random(0xC0FFEE)
    for draw in range(4):
        n = rng.randint(2, 14)
        m = rng.randint(1, 28)
        rows = [
            (rng.randint(0, n - 1), rng.randint(0, n - 1)) for _ in range(m)
        ]
        rows = [(s, d) for s, d in rows if s != d] or [(0, 1)]
        pr_on, pr_off = _pr_both_tiers(spark, tiers, rows, iters=3)
        assert pr_on == pr_off, (draw, rows)
        lpa_on, lpa_off = _lpa_rows_both_tiers(
            spark, tiers, [(s, d, 1 + (s + d) % 3) for s, d in rows],
            "src int, dst int, w long", "w", 3,
        )
        assert lpa_on == lpa_off, (draw, rows)
