"""Regression tests for the round-13 hardening (ADVICE r12 items).

- operators/graph.hits_topk_sides_driver: the int64/float64 exactness
  envelope travels WITH the function — a raise of the mutable
  `core.driver_tier.NUMPY_MAX_ROWS` cap cannot silently outrun the <2^53
  bincount / <2^63 rescale proof (numpy wraps int64 without raising).
- __main__.main: ANN_DEPLOY_OVERRIDES is cleared in a finally block, so
  a query that raises mid-run can no longer leak the --auto-scale
  posture into later in-process callers (runner, tests) running graded
  ANN queries.
- tests/test_fixedpoint_contract_lint.py (sibling file) is the third
  ADVICE item: static enforcement of the to_units contract at call
  sites.
"""

import types

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _edges(spark):
    return spark.createDataFrame([(1, 10), (1, 11), (2, 10)], "c int, s int")


def _raise_caps(monkeypatch, rows):
    """Lift the gate's row and byte caps so only the envelope can bind."""
    import hadoop_data_lake_spark.core.driver_tier as DT

    monkeypatch.setattr(DT, "NUMPY_MAX_ROWS", rows)
    monkeypatch.setattr(DT, "MAX_BYTES", 2**62)


def test_hits_guard_blocks_int64_rescale_overflow(spark, monkeypatch):
    """scale^2 * |E| >= 2^63 must route to the distributed loop even when
    the module edge cap has been raised past the proof's envelope."""
    import hadoop_data_lake_spark.operators.graph as G

    _raise_caps(monkeypatch, 10**11)
    e = _edges(spark)
    # scale=1e6 -> numerator bound scale^2 * |E| = 1e12 * 1e10 >> 2^63
    assert G.hits_topk_sides_driver(e, "c", "s", n_edges_bound=10**10) is None
    # just under the cap but over the envelope: still None
    assert G.hits_topk_sides_driver(e, "c", "s", n_edges_bound=10**7) is None
    # inside the envelope (1e12 * 9e6 < 2^63): the tier runs
    assert G.hits_topk_sides_driver(e, "c", "s", n_edges_bound=9_000_000) is not None


def test_hits_guard_blocks_float64_sum_inexactness(spark, monkeypatch):
    """scale * |E| >= 2^53 (bincount float64 exactness) must also gate,
    independently of the int64 bound — at small scales it binds first."""
    import hadoop_data_lake_spark.operators.graph as G

    _raise_caps(monkeypatch, 2**54)
    e = _edges(spark)
    # scale=1: 2^53 edges breaches the float64 bound while scale^2*|E|
    # (= 2^53) is still under 2^63
    assert G.hits_topk_sides_driver(e, "c", "s", scale=1, n_edges_bound=2**53) is None
    assert (
        G.hits_topk_sides_driver(e, "c", "s", scale=1, n_edges_bound=2**52)
        is not None
    )


def test_hits_guard_no_false_trigger_at_shipped_caps(spark):
    """At the shipped caps (scale<=1e6, |E|<=4e6) the new guard is
    strictly looser than the existing cap checks — it never fires."""
    import hadoop_data_lake_spark.core.driver_tier as DT
    import hadoop_data_lake_spark.operators.graph as G

    assert 10**6 * DT.NUMPY_MAX_ROWS < 2**53
    assert 10**12 * DT.NUMPY_MAX_ROWS < 2**63
    got = G.hits_topk_sides_driver(
        _edges(spark), "c", "s", n_edges_bound=DT.NUMPY_MAX_ROWS
    )
    assert got is not None


def test_cli_clears_ann_overrides_when_query_raises(spark, monkeypatch):
    """ADVICE r12: a raising query must not leave the --auto-scale
    posture set for the rest of the process."""
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM
    from hadoop_data_lake_spark.queries import registry as R

    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", {})

    def boom(spark_, sf_dir):
        # the overrides ARE set while the query body runs
        assert SIM.ANN_DEPLOY_OVERRIDES.get("auto_scale") is True
        raise RuntimeError("mid-query failure")

    monkeypatch.setitem(
        R.REGISTRY,
        "boom_test_only",
        types.SimpleNamespace(fn=boom, oracle=None, tags=("test",)),
    )
    with pytest.raises(RuntimeError, match="mid-query failure"):
        main(
            ["run", "boom_test_only", "--sf-dir", SF_DIR, "--auto-scale",
             "--scan-budget", "0.25"]
        )
    assert SIM.ANN_DEPLOY_OVERRIDES == {}


def test_cli_clears_ann_overrides_on_success_too(spark, monkeypatch):
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM

    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", {})
    rc = main(
        ["run", "ann_ivf_kmeans", "--sf-dir", SF_DIR, "--limit", "1",
         "--auto-scale"]
    )
    assert rc == 0
    assert SIM.ANN_DEPLOY_OVERRIDES == {}


# ------------------------------------------------- pagerank deg_col fusion


def _ranks(df):
    return sorted(map(tuple, df.collect()))


def test_pagerank_deg_col_bit_identical_layered(spark):
    """pagerank_det's fused edge build (one exchange carrying deg) must be
    bit-identical to the operator's self-computed out-degree path on the
    layered purchase graph (A/B at sf0.1 measured 2.126 -> 1.872 s
    best-of-4, BENCH_NOTES round 13)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.operators.graph import pagerank_intexact

    e = spark.createDataFrame(
        [(1, -1), (1, -2), (2, -1), (3, -2), (3, -3), (4, -1)],
        "src long, dst long",
    )
    plain = pagerank_intexact(e, iters=10)
    fused = pagerank_intexact(
        e.repartition("src").withColumn(
            "deg", F.count("*").over(Window.partitionBy("src"))
        ),
        iters=10,
        deg_col="deg",
    )
    assert _ranks(plain) == _ranks(fused)


def test_pagerank_deg_col_bit_identical_general_loop_with_multiedges(spark, tiers):
    """The general distributed loop (contrib_base now joins the flags
    frame for dst_dang instead of an out_deg self-join) must stay
    bit-identical to the untouched general DRIVER tier, with multi-edges
    and a cycle so the layered fast path cannot trigger, on BOTH deg
    paths."""
    import hadoop_data_lake_spark.operators.graph as G
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # cycle (1->2->3->1) breaks layering; (1,2) is a double edge; 9 dangles
    e = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (3, 1), (1, 9), (4, 1)],
        "src long, dst long",
    )
    e_deg = e.repartition("src").withColumn(
        "deg", F.count("*").over(Window.partitionBy("src"))
    )
    out = {}
    for enabled in (True, False):
        tiers(enabled)
        out[("plain", enabled)] = _ranks(G.pagerank_intexact(e, iters=4))
        out[("deg", enabled)] = _ranks(
            G.pagerank_intexact(e_deg, iters=4, deg_col="deg")
        )
    assert len({tuple(v) for v in out.values()}) == 1, out

def test_pagerank_deg_col_property_random_graphs(spark, tiers):
    """Property harness for the r13 deg_col fusion: on random small
    digraphs (dangles, duplicate edges, cycles, multiple components all
    arise naturally), pagerank_intexact must return BIT-identical ranks
    whether out-degree is self-computed or supplied via deg_col, with
    the general driver tier on AND off. Seeded stdlib RNG per the
    test_round11_fixes.py property-harness note (hypothesis float/graph
    strategies avoided; one Spark pipeline per draw)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import hadoop_data_lake_spark.operators.graph as G

    rng = random.Random(0x13D6C0)
    for draw in range(4):
        n = rng.randint(2, 14)
        m = rng.randint(1, 28)
        rows = [
            (rng.randint(0, n - 1), rng.randint(0, n - 1)) for _ in range(m)
        ]
        rows = [(s, d) for s, d in rows if s != d] or [(0, 1)]
        outs = set()
        for enabled in (True, False):
            tiers(enabled)
            e = spark.createDataFrame(rows, "src long, dst long")
            outs.add(tuple(_ranks(G.pagerank_intexact(e, iters=3))))
            e_deg = e.repartition("src").withColumn(
                "deg", F.count("*").over(Window.partitionBy("src"))
            )
            outs.add(
                tuple(
                    _ranks(G.pagerank_intexact(e_deg, iters=3, deg_col="deg"))
                )
            )
        assert len(outs) == 1, (draw, rows)

# -------------------------------------------- round-artifact checklist gate


def test_backlog_artifacts_gate(tmp_path):
    """`backlog_report --artifacts` (VERDICT r12 item 2 tooling): exit 1
    while a round artifact is untracked, 0 once the trail is clean. Run
    against a scratch git repo so the real working tree stays untouched."""
    import subprocess

    import tools.backlog_report as br

    def run_in(cwd):
        # assert_artifacts shells out to git in the CURRENT cwd
        import os

        old = os.getcwd()
        os.chdir(cwd)
        try:
            return br.assert_artifacts()
        finally:
            os.chdir(old)

    repo = tmp_path / "r"
    repo.mkdir()
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t",
         "commit", "-q", "--allow-empty", "-m", "root"],
        cwd=repo, check=True,
    )
    assert run_in(repo) == 0  # no artifacts at all: clean
    (repo / "CORRECTNESS_r99.json").write_text("{}")
    (repo / "bench_detail.json").write_text("{}")
    assert run_in(repo) == 1  # untracked artifacts: dirty
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t",
         "add", "-A"], cwd=repo, check=True)
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t",
         "commit", "-q", "-m", "artifacts"], cwd=repo, check=True)
    assert run_in(repo) == 0  # committed: clean
    (repo / "bench_detail.json").write_text('{"changed": true}')
    assert run_in(repo) == 1  # modified tracked artifact: dirty

def test_lpa_null_weight_property_random_graphs(spark, tiers):
    """Property extension of the r12 NULL-weight fix: on random digraphs
    where ~1/3 of edge weights are SQL NULL (all-null candidate groups,
    null-vs-zero ranking corners, and multi-edges arise naturally), the
    LPA operator must give BIT-identical results with the driver tiers on
    and off (the gate declines NULL weights, so the distributed loop
    answers those draws). Same seeded-RNG harness as the pagerank deg_col
    property test."""
    import random

    rng = random.Random(0x13A11)
    for draw in range(4):
        n = rng.randint(2, 10)
        m = rng.randint(2, 24)
        rows = []
        for _ in range(m):
            s, d = rng.randint(0, n - 1), rng.randint(0, n - 1)
            if s == d:
                continue
            w = None if rng.random() < 0.34 else rng.randint(0, 5)
            rows.append((f"n{s}", f"n{d}", w))
        if not rows:
            rows = [("n0", "n1", None)]
        fast, dist = _lpa_both_tiers_r13(spark, tiers, rows, iters=3)
        assert fast == dist, (draw, rows)


def _lpa_both_tiers_r13(spark, tiers, rows, iters):
    import hadoop_data_lake_spark.operators.graph as G

    e = spark.createDataFrame(rows, "brand_a string, brand_b string, w long")
    return tiers.on_off(
        lambda: sorted(
            map(
                tuple,
                G.lpa_communities(
                    e, src="brand_a", dst="brand_b", weight="w", iters=iters,
                ).collect(),
            )
        )
    )
