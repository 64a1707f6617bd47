"""Regression tests for the round-12 fixes (VERDICT r11 items + ADVICE r11).

- operators/graph._hits_numpy_rounds: the numpy HITS recurrence —
  bit-identical to a Python-int replay of the distributed loop (the
  <2^53 bincount exactness argument).
- operators/graph.lpa_communities driver tier: NULL edge weights now
  mirror SQL SUM semantics exactly (skipped inside a group; an all-null
  group keeps a NULL score that ranks LAST under desc) instead of raising
  TypeError — divergence flagged by ADVICE r11.
- bench.run_scale_tier: the driver-tier switch pin is restored
  in a finally block to the CALLER's value (not hardcoded True), so an
  exception mid-tier can't leave the tier disabled process-wide and a
  deliberately-disabled caller isn't clobbered.
- queries/northstar_queries.token_lang_mi: the MI domain is the fixed
  5-language list BY CONSTRUCTION on both sides (Spark filters lang isin,
  the oracle filters lang IN) — previously the Spark pivot silently
  dropped unknown langs from n_total while the oracle counted them.
"""

import random

import pytest
from conftest import SF01_DIR, SF_DIR
from pyspark.sql import functions as F


# ---------------------------------------------------------------- HITS tier


def _hits_both_tiers(spark, tiers):
    from hadoop_data_lake_spark.queries.tpch_queries import (
        hits_hubs_authorities,
    )

    return tiers.on_off(
        lambda: sorted(map(tuple, hits_hubs_authorities(spark, SF_DIR).collect()))
    )


def test_hits_driver_tier_bit_identical_e2e(spark, tiers):
    """The full query at sf0.001 returns byte-identical rows with the
    numpy driver tier on vs the distributed loop."""
    fast, dist = _hits_both_tiers(spark, tiers)
    assert fast == dist
    assert len(fast) == 20  # top-10 hubs + top-10 authorities


def test_hits_numpy_rounds_matches_python_int_reference():
    """Property check of the EXACTNESS argument: on random bipartite
    multigraphs (duplicate edges allowed — degree counts then differ per
    edge, exercising the count step), the numpy recurrence must equal a
    pure-Python arbitrary-precision integer replay of the distributed
    semantics (count -> rescale -> sum -> rescale per round)."""
    import numpy as np

    import hadoop_data_lake_spark.operators.graph as G

    rng = random.Random(0x12C0DE)
    for _draw in range(4):
        nh, na = rng.randint(1, 8), rng.randint(1, 6)
        m = rng.randint(1, 30)
        rows = [
            (rng.randint(0, nh - 1), rng.randint(100, 100 + na - 1))
            for _ in range(m)
        ]
        hub_u, hub_i = np.unique([c for c, _ in rows], return_inverse=True)
        auth_u, auth_i = np.unique([s for _, s in rows], return_inverse=True)
        h_arr, a_arr = G._hits_numpy_rounds(
            hub_i, auth_i, len(hub_u), len(auth_u), rounds=2, scale=1_000_000
        )
        got_h = dict(zip(hub_u.tolist(), h_arr.tolist()))
        got_a = dict(zip(auth_u.tolist(), a_arr.tolist()))

        # pure-Python integer reference
        scale = 1_000_000
        a = {}
        for _c, s in rows:
            a[s] = a.get(s, 0) + 1
        m_ = max(a.values())
        a = {k: (v * scale) // m_ for k, v in a.items()}
        for rnd in range(3):
            if rnd % 2 == 0:  # hub update from a
                h = {}
                for c, s in rows:
                    h[c] = h.get(c, 0) + a[s]
                m_ = max(h.values())
                h = {k: (v * scale) // m_ for k, v in h.items()}
            else:  # authority update from h
                a = {}
                for c, s in rows:
                    a[s] = a.get(s, 0) + h[c]
                m_ = max(a.values())
                a = {k: (v * scale) // m_ for k, v in a.items()}
        assert got_h == h
        assert got_a == a


def test_hits_query_distributed_path_shape(spark, tiers):
    """With the tier pinned off, the query's final frame comes from the
    iterated checkpoint chain (Scan ExistingRDD), not a local collect —
    the cap-routing probe the r11 tier tests established."""
    from hadoop_data_lake_spark.queries.tpch_queries import (
        hits_hubs_authorities,
    )

    tiers(False)
    df = hits_hubs_authorities(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan


# ------------------------------------------------------ LPA null weights


def _lpa_both_tiers(spark, tiers, rows, iters=4):
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


def test_lpa_driver_tier_null_weights_no_crash(spark, tiers):
    """ADVICE r11: a NULL edge weight raised TypeError in the driver
    tier while the distributed loop's F.sum silently skipped it. Both
    paths must agree bit-for-bit on a graph mixing null and non-null
    weights (the driver-tier gate now declines NULL weights, so the
    distributed loop answers both runs)."""
    rows = [
        ("a", "b", None),   # null weight inside a group that also has a 3
        ("a", "b", 3),
        ("b", "c", 5),
        ("c", "d", None),   # group with ONLY null weights (SQL sum -> NULL)
        ("x", "y", 2),      # clean separate component
    ]
    fast, dist = _lpa_both_tiers(spark, tiers, rows)
    assert fast == dist
    assert len(fast) == 6


def test_lpa_driver_tier_null_vs_zero_ranking(spark, tiers):
    """The semantic corner the 'treat null as 0' shortcut gets wrong:
    a candidate label whose weight sum is 0 must BEAT a candidate whose
    sum is SQL-NULL (desc ranks nulls last), even when the null label
    sorts first alphabetically."""
    # vertex "v" sees label-candidates via neighbors "aa" (null weight,
    # lexically smaller) and "zz" (weight 0). Distributed: sum(null)=NULL
    # loses to 0 under desc-nulls-last, so v adopts "zz".
    rows = [
        ("v", "aa", None),
        ("v", "zz", 0),
    ]
    fast, dist = _lpa_both_tiers(spark, tiers, rows, iters=1)
    assert fast == dist
    v_row = [r for r in fast if r[0] == "v"]
    assert v_row and v_row[0][1] == "zz"


# ------------------------------------------------- bench tier-pin restore


@pytest.mark.parametrize("orig_value", [True, False])
def test_run_scale_tier_restores_flag_on_exception(monkeypatch, tiers, orig_value):
    """ADVICE r11: an exception mid-scale-tier must not leave the driver
    tier disabled process-wide, and the restore must honor a caller that
    had deliberately disabled it (the 100x scale probe's pattern)."""
    import bench
    import hadoop_data_lake_spark.core.driver_tier as DT

    def boom(spark, base_dir):
        assert DT.GENERAL_DRIVER_TIER_ENABLED is False  # pinned inside
        raise RuntimeError("mid-tier failure")

    monkeypatch.setattr(bench, "_run_scale_tier_inner", boom)
    tiers(orig_value)
    with pytest.raises(RuntimeError):
        bench.run_scale_tier(None, "/nonexistent")
    assert DT.GENERAL_DRIVER_TIER_ENABLED is orig_value


# ------------------------------------------------- token_lang_mi domain


def test_token_lang_mi_unknown_lang_excluded_by_construction(spark, tmp_path):
    """ADVICE r11 (medium): with a document whose lang is OUTSIDE the
    fixed 5-language domain, Spark and the DuckDB oracle must still agree
    — both now filter to the domain up front, where previously the Spark
    pivot dropped the unknown lang from n_total while the oracle's marg
    CTE counted all exploded tokens."""
    import duckdb
    import pandas as pd

    from hadoop_data_lake_spark.queries.northstar_queries import (
        TOKEN_LANG_MI_SQL,
        token_lang_mi,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "hello world hello",
                "bonjour monde",
                "ciao mondo hello hello hello",  # out-of-domain: must not count
                "hello welt",
            ],
            "lang": ["en", "fr", "it", "de"],
            "source": ["t", "t", "t", "t"],
            "n_chars": [17, 13, 29, 10],
        }
    )
    docs["doc_id"] = docs["doc_id"].astype("int64")
    docs["n_chars"] = docs["n_chars"].astype("int64")
    docs.to_parquet(tmp_path / "documents.parquet", index=False)

    sdf = token_lang_mi(spark, str(tmp_path)).toPandas()

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    odf = con.sql(TOKEN_LANG_MI_SQL).df()

    assert list(sdf.columns) == list(odf.columns)
    s_rows = sorted(map(tuple, sdf.itertuples(index=False)))
    o_rows = sorted(map(tuple, odf.itertuples(index=False)))
    assert s_rows == o_rows
    # the 'it' doc's three extra 'hello' occurrences are invisible:
    hello = sdf[sdf.token == "hello"]
    assert not hello.empty and int(hello.n_occurrences.iloc[0]) == 3


# ------------------------------------------------- calm gate + spike stamp


def test_spike_stamp_flags_over_factor_controls():
    import bench

    out = bench.spike_stamp({"a": 1.2, "b": 1.6, "c": 1.501})
    assert out["spike_suspected"] is True
    assert out["spike_controls"] == ["b", "c"]
    assert out["spike_factor"] == bench.SPIKE_RATIO == 1.5

    calm = bench.spike_stamp({"a": 1.5, "b": 0.9})  # 1.5 is NOT over
    assert calm["spike_suspected"] is False
    assert calm["spike_controls"] == []

    empty = bench.spike_stamp({})  # non-sf0.1 runs have no ratios
    assert empty["spike_suspected"] is False


def test_calm_gate_default_threshold_and_records(monkeypatch):
    """VERDICT r11 item 1: default calm threshold is 1.0 (observed calm
    runs sat at 0.2-0.64 on 32 CPUs; BENCH_r11 proceeded at exactly the
    old 2.0 as an 8.86 spike drained). Also pins the self-describing
    record fields the payload carries."""
    import bench

    monkeypatch.delenv("SPARK_GRAFT_CALM_LOAD", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CALM_WAIT_S", raising=False)
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.25, 0.3, 0.4))
    rec = bench.wait_for_calm_box()
    assert rec["threshold"] == 1.0
    assert rec["load_at_invoke"] == 0.25
    assert rec["timed_out"] is False


def test_calm_gate_bounded_wait_times_out(monkeypatch):
    """An always-loaded box proceeds (bounded wait), recording
    timed_out=True so the artifact is self-describing."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CALM_WAIT_S", "0")
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.9, 9.9, 9.9))
    rec = bench.wait_for_calm_box()
    assert rec["timed_out"] is True
    assert rec["load_at_start"] == 9.9


# ------------------------------------------------- CLI ANN scale flags


def test_cli_auto_scale_flags_plumb_to_ann_overrides(spark, monkeypatch):
    """VERDICT r11 item 7: `run --auto-scale --scan-budget F` must reach
    the cosine_near_dup_pairs / ivf_kmeans_topk call sites via
    SIM.ANN_DEPLOY_OVERRIDES; without the flags the overrides stay empty
    (graded defaults untouched)."""
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM

    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", {})

    seen = {}
    orig_ivf = SIM.ivf_kmeans_topk

    def spy(corpus, queries, **kw):
        seen.update(kw)
        return orig_ivf(corpus, queries, **kw)

    monkeypatch.setattr(SIM, "ivf_kmeans_topk", spy)
    rc = main(
        ["run", "ann_ivf_kmeans", "--sf-dir", SF_DIR, "--limit", "1",
         "--auto-scale", "--scan-budget", "0.25"]
    )
    assert rc == 0
    assert seen.get("auto_scale") is True
    assert seen.get("scan_budget") == 0.25
    assert "n_cells" not in seen  # sizing delegated to the scale law

    # --scan-budget without --auto-scale is a usage error
    assert main(
        ["run", "ann_ivf_kmeans", "--sf-dir", SF_DIR, "--scan-budget", "0.2"]
    ) == 2


def test_cli_default_run_leaves_graded_defaults(spark, monkeypatch):
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM

    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", {})

    seen = {}
    orig_ivf = SIM.ivf_kmeans_topk

    def spy(corpus, queries, **kw):
        seen.update(kw)
        return orig_ivf(corpus, queries, **kw)

    monkeypatch.setattr(SIM, "ivf_kmeans_topk", spy)
    assert main(["run", "ann_ivf_kmeans", "--sf-dir", SF_DIR, "--limit", "1"]) == 0
    assert seen.get("n_cells") == 8 and seen.get("nprobe") == 2
    assert not seen.get("auto_scale")
    assert SIM.ANN_DEPLOY_OVERRIDES == {}


def test_spike_stamp_suppressed_off_baseline_sf():
    """A run at another SF has no meaningful control ratios (they compare
    against sf0.1 absolutes); the payload must then read
    spike_suspected=False with an empty control list — mirroring the
    control_inflation suppression. Pinned at the spike_stamp contract
    level (main() passes {} when control_inflation is None)."""
    import bench

    out = bench.spike_stamp({})
    assert out == {
        "spike_suspected": False,
        "spike_controls": [],
        "spike_factor": bench.SPIKE_RATIO,
    }


# --------------------------------------------- to_units primitive rounding


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


def test_hits_numpy_exactness_at_documented_bounds():
    """Pins the <2^53 bincount exactness argument at its boundary: with
    per-node sums right at the documented cap regime (values <= 1e6,
    4M addends -> sums <= 4e12), float64 accumulation must be exact; and
    the rescale numerator at the extreme (4e12 * 1e6 = 4e18) must not
    overflow int64. Pure numpy — no Spark session needed."""
    import numpy as np

    # worst-case per-node sum at the caps: 4e12 (every addend 1e6 into
    # one bucket). Use a smaller edge count with the same sum magnitude:
    # 4_000 addends of 1e9 would NOT occur (values are <= scale=1e6), so
    # build the real shape — many max-scale addends — and check against
    # Python bigint arithmetic.
    m = 400_000
    w = np.full(m, 1_000_000, dtype=np.int64)
    idx = np.zeros(m, dtype=np.int64)
    s = np.bincount(idx, weights=w.astype(np.float64), minlength=1).astype(
        np.int64
    )[0]
    assert s == 1_000_000 * m == sum(int(x) for x in w)
    assert float(s) < 2**53  # the argument's precondition holds at cap/10
    # full-cap magnitude: 4e12 is still exactly representable
    assert np.float64(4_000_000 * 1_000_000) == 4e12 < 2**53

    # rescale numerator at the extreme: int64 arithmetic, no overflow
    v = np.array([4_000_000_000_000], dtype=np.int64)
    out = (v * 1_000_000) // v.max()
    assert out[0] == 1_000_000
    assert (v * 1_000_000)[0] == 4 * 10**18  # fits int64 (max ~9.22e18)

    # mixed-magnitude exactness: alternating 1 and 1e6 addends sum
    # bit-identically to Python bigints
    w2 = np.tile(np.array([1, 1_000_000], dtype=np.int64), 50_000)
    got = np.bincount(
        np.zeros(len(w2), dtype=np.int64), weights=w2.astype(np.float64)
    ).astype(np.int64)[0]
    assert int(got) == sum(int(x) for x in w2)


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
