"""Regression tests for the round-14 hardening (ADVICE r13 items).

- __main__.main: ANN_DEPLOY_OVERRIDES is snapshot/restored rather than
  cleared, so an in-process caller that pre-set overrides and then calls
  main() gets its state back — main() undoes only its OWN changes.
- tests/test_fixedpoint_contract_lint.py collectors: a kernel call inside
  a nested function is counted exactly once, and module-level kernel
  calls are collected (they previously escaped both the grammar and the
  ratchet).
"""

import ast
import types

import pytest
from conftest import SF_DIR


# ------------------------------------------------- CLI override snapshot


def test_cli_restores_preset_overrides_after_raise(spark, monkeypatch):
    """ADVICE r13: main() must undo only its own override changes — a
    caller's pre-set posture survives a raising CLI query."""
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM
    from hadoop_data_lake_spark.queries import registry as R

    preset = {"auto_scale": True, "scan_budget": 0.5}
    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", dict(preset))

    def boom(spark_, sf_dir):
        raise RuntimeError("mid-query failure")

    monkeypatch.setitem(
        R.REGISTRY,
        "boom_test_only",
        types.SimpleNamespace(fn=boom, oracle=None, tags=("test",)),
    )
    with pytest.raises(RuntimeError, match="mid-query failure"):
        main(["run", "boom_test_only", "--sf-dir", SF_DIR])
    assert SIM.ANN_DEPLOY_OVERRIDES == preset


def test_cli_restores_preset_overrides_after_success(spark, monkeypatch):
    """CLI flags compose on top of the caller's posture for the duration
    of the invocation, then the entry snapshot is restored verbatim."""
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM
    from hadoop_data_lake_spark.queries import registry as R

    preset = {"scan_budget": 0.125}
    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", dict(preset))

    seen = {}

    def probe(spark_, sf_dir):
        seen.update(SIM.ANN_DEPLOY_OVERRIDES)
        return spark_.range(1)

    monkeypatch.setitem(
        R.REGISTRY,
        "probe_test_only",
        types.SimpleNamespace(fn=probe, oracle=None, tags=("test",)),
    )
    rc = main(
        ["run", "probe_test_only", "--sf-dir", SF_DIR, "--limit", "1",
         "--auto-scale"]
    )
    assert rc == 0
    # during the run: CLI flag layered over the caller's preset
    assert seen == {"scan_budget": 0.125, "auto_scale": True}
    # after: exactly the caller's preset, the CLI's own change undone
    assert SIM.ANN_DEPLOY_OVERRIDES == preset


# ------------------------------------------------- lint collector scoping


def _sites_for_source(src: str):
    from tests import test_fixedpoint_contract_lint as L

    tree = ast.parse(src)
    sites = []
    for fn in L._top_level_functions(tree):
        sites.extend(L._scope_sites("synthetic.py", fn, L._assigns(fn)))
    module_defs = {
        stmt.targets[0].id: stmt.value
        for stmt in tree.body
        if isinstance(stmt, ast.Assign)
        and len(stmt.targets) == 1
        and isinstance(stmt.targets[0], ast.Name)
    }
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if isinstance(stmt, ast.ClassDef):
            for sub in stmt.body:
                if not isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    sites.extend(L._scope_sites("synthetic.py", sub, module_defs))
            continue
        sites.extend(L._scope_sites("synthetic.py", stmt, module_defs))
    return sorted(sites)


def test_lint_counts_nested_function_call_once():
    """ADVICE r13: ast.walk(tree) used to visit a nested FunctionDef as
    its own root, double-counting its kernel calls in the ratchet."""
    src = (
        "def outer():\n"
        "    x = F.col('value')\n"
        "    def inner():\n"
        "        return to_units(x, 2)\n"
        "    return inner\n"
    )
    sites = _sites_for_source(src)
    assert len(sites) == 1
    mod, kernel, arg, scale, ok = sites[0]
    assert (kernel, arg, scale) == ("to_units", "x", "2")
    assert ok  # resolved through the enclosing function's assignment


def test_lint_collects_module_level_call():
    """ADVICE r13: module-level kernel calls previously escaped both the
    grammar and the ratchet."""
    src = (
        "base = F.col('value')\n"
        "MODULE_CONST = to_units(base, 2)\n"
        "BAD_CONST = to_units(F.col('unbounded_ratio'), 2)\n"
    )
    sites = _sites_for_source(src)
    assert len(sites) == 2
    by_arg = {arg: ok for _, _, arg, _, ok in sites}
    assert by_arg["base"] is True  # resolved via module-level assignment
    assert by_arg["F.col('unbounded_ratio')"] is False  # grammar rejects


def test_lint_pinned_ratchet_unchanged():
    """The scoping fix must not change today's collected multiset — no
    nested or module-level kernel calls exist in the query modules."""
    from collections import Counter

    from tests import test_fixedpoint_contract_lint as L

    got = Counter((m, k, a, s) for m, k, a, s, _ in L._collect_sites())
    assert got == Counter(L.PINNED_SITES)


# ------------------------------------------------- fused HITS driver tier


def _sides(df):
    return sorted(map(tuple, df.collect()))


def test_hits_topk_fused_property_random_bipartite(spark):
    """Random bipartite multigraphs: the fused tier and the DISTRIBUTED
    loop (the graded query's fallback shape) must agree bit-for-bit on the
    (side, node, score) rows. Duplicate edges arise naturally, so the
    fused tier's np.unique pair dedupe must equal SQL DISTINCT. Seeded
    stdlib RNG, one Spark pipeline per draw."""
    import random

    from pyspark.sql import functions as F

    import hadoop_data_lake_spark.operators.graph as G
    from hadoop_data_lake_spark.queries.tpch_queries import _hits_top_sides

    rng = random.Random(0x14817)
    for draw in range(3):
        n_hub = rng.randint(1, 8)
        n_auth = rng.randint(1, 6)
        m = rng.randint(1, 30)
        rows = [
            (rng.randint(0, n_hub - 1), 100 + rng.randint(0, n_auth - 1))
            for _ in range(m)
        ]
        raw = spark.createDataFrame(rows, "c long, s long")
        k = rng.randint(1, 5)
        fused = G.hits_topk_sides_driver(
            raw, "c", "s", rounds=2, k=k, n_edges_bound=m
        )
        assert fused is not None, draw
        e = raw.distinct().localCheckpoint(eager=True)

        # distributed loop: replay the graded query's fallback shape
        def rescale(df):
            df = df.localCheckpoint(eager=True)
            mx = df.agg(F.max("v").alias("m"))
            return df.crossJoin(F.broadcast(mx)).select(
                df.columns[0], F.expr("v * 1000000 div m").alias("v")
            )

        a_d = rescale(e.groupBy("s").agg(F.count("*").cast("long").alias("v")))
        h_d = rescale(e.join(a_d, "s").groupBy("c").agg(F.sum("v").alias("v")))
        a_d = rescale(e.join(h_d, "c").groupBy("s").agg(F.sum("v").alias("v")))
        h_d = rescale(e.join(a_d, "s").groupBy("c").agg(F.sum("v").alias("v")))
        dist = _hits_top_sides(h_d, a_d)

        # k may trim: compare fused against the k-trimmed reference sides
        def trim(sides_rows, kk):
            hubs = [r for r in sides_rows if r[0] == "hub"]
            auths = [r for r in sides_rows if r[0] == "auth"]
            key = lambda r: (-r[2], r[1])
            return sorted(sorted(hubs, key=key)[:kk] + sorted(auths, key=key)[:kk])

        assert _sides(fused) == trim(_sides(dist), k), draw


def test_hits_topk_fused_cap_routing(spark, tiers):
    """Bound/envelope violations must decline (None), including an
    unsound caller bound discovered post-collect."""
    import hadoop_data_lake_spark.core.driver_tier as DT
    import hadoop_data_lake_spark.operators.graph as G

    raw = spark.createDataFrame([(1, 10), (2, 10)], "c long, s long")
    assert G.hits_topk_sides_driver(raw, "c", "s", n_edges_bound=None) is None
    assert (
        G.hits_topk_sides_driver(
            raw, "c", "s", n_edges_bound=DT.NUMPY_MAX_ROWS + 1
        )
        is None
    )
    # envelope: scale^2 * bound >= 2^63 (scale=1e6 -> bound 1e7 breaks 2^53 first)
    assert (
        G.hits_topk_sides_driver(raw, "c", "s", scale=1, n_edges_bound=2**53)
        is None
    )
    # unsound bound: promised 1, collected 2
    assert G.hits_topk_sides_driver(raw, "c", "s", n_edges_bound=1) is None
    # mixed node types decline
    mixed = spark.createDataFrame([(1, 10)], "c int, s long")
    assert G.hits_topk_sides_driver(mixed, "c", "s", n_edges_bound=1) is None
    # disabled tier declines
    tiers(False)
    assert G.hits_topk_sides_driver(raw, "c", "s", n_edges_bound=2) is None



# ------------------------------------------------- sweep-variant contract


def test_scaled_sweep_variants_structure():
    """Every scaled sweep twin must shadow a REAL graded full-oracle
    query, carry its own oracle, and be tagged — so a registry rename or
    a rows-only drift can't silently orphan a variant (check_oracle
    would then 'verify' nothing)."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY
    from hadoop_data_lake_spark.queries.sweep_variants import (
        SCALED_SWEEP_VARIANTS,
    )

    assert SCALED_SWEEP_VARIANTS, "variants module must not be empty"
    for name, spec in SCALED_SWEEP_VARIANTS.items():
        assert name in REGISTRY, name
        assert REGISTRY[name].oracle is not None, (name, "graded pair is rows-only")
        assert spec.oracle is not None, (name, "variant lost its oracle")
        assert "scaled-sweep-variant" in spec.tags, name
        assert callable(spec.fn), name


def test_scaled_sweep_variant_matches_own_oracle(spark, tmp_path):
    """End-to-end: each variant's Spark result matches its own DuckDB
    oracle at sf0.001 (the cheap scale) — the same comparison
    check_oracle --scaled-variants runs at sf0.1."""
    import duckdb

    from hadoop_data_lake_spark.core.io import TABLES
    from hadoop_data_lake_spark.queries.sweep_variants import (
        SCALED_SWEEP_VARIANTS,
    )

    sf_dir = SF_DIR
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec_mod = importlib.util.spec_from_file_location(
        "co", os.path.join(repo, "tools", "check_oracle.py")
    )
    co = importlib.util.module_from_spec(spec_mod)
    spec_mod.loader.exec_module(co)
    for name, spec in SCALED_SWEEP_VARIANTS.items():
        sdf = spec.fn(spark, sf_dir).toPandas()
        odf = con.sql(spec.oracle).df()
        assert len(sdf) == len(odf), name
        assert sorted(sdf.columns) == sorted(odf.columns), name
        assert co.canonical_multiset(sdf) == co.canonical_multiset(odf), name


# ------------------------------------------------- round_gate step contract


def test_round_gate_close_covers_the_checklist():
    """The gate's one step list must keep covering every close-out check,
    in order (a silently dropped step is a silently skipped gate)."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "rg", os.path.join(repo, "tools", "round_gate.py")
    )
    rg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rg)
    names = [n for n, _ in rg.steps()]
    assert names == [
        "oracle-sf0.001",
        "window-sf0.01",
        "window-sf0.1",
        "oracle-sf0.1-full",
        "pytest",
        "pytest-perfbench",
        "plan-audit",
        "degenerate",
        "degenerate-plans",
        "entry-smoke",
    ]
    steps = dict(rg.steps())
    # the sf0.1 checks must carry the scaled-variant flag; the smaller
    # scales must NOT (check_oracle exits 2 on misuse)
    assert "--scaled-variants" in steps["window-sf0.1"]
    assert "--scaled-variants" in steps["oracle-sf0.1-full"]
    assert "--scaled-variants" not in steps["window-sf0.01"]
    assert "--scaled-variants" not in steps["oracle-sf0.001"]
    # both pytest steps run with the tier-1 flags
    for name, target in (("pytest", "tests/"), ("pytest-perfbench", "perfbench/tests")):
        assert target in steps[name] and "no:cacheprovider" in steps[name], name
