"""Regression tests for the round-10 control re-baseline (VERDICT r9 item 1).

The four FACT_RESCAN_ALLOW control-freeze exemptions plus the multi-layer
decontamination_report were the last multi-scan plans in the registry, kept
only because changing a bench control's speed corrupts control_inflation.
Round 10 re-baselined the controls (bench.py CONTROL_R10_ABSOLUTES; the
old-plan record is BENCH_r09.json) and applied the proven aggregate-first /
localCheckpoint restructuring:

- pipelines/zone_report.build_zone_report: the two grain-bounded
  groupingSets aggregates are localCheckpoint-ed (persist() kept the
  FileScan visible and re-executable under eviction) — 5 events scans -> 0
  visible, 2 lifetime.
- operators/dedup.minhash_lsh_pairs + minhash_cross_pairs: the exploded
  inverted shingle index is checkpointed (same move as the ngram/prefix
  paths) — 6 documents scans -> 0 visible, 1 lifetime scan + 1 shingle pass.
- operators/similarity.cosine_near_dup_pairs: the SRP band index is
  checkpointed (narrow rows) — 4 embeddings scans -> 2 (the two
  column-pruned verify joins, deliberately NOT materialized: re-scanning
  pruned parquet beats storing a full copy of the embedding payload).

These tests pin the new shapes so a refactor can't silently reintroduce the
rescan (the audit would catch >= 4; these pin the actual <= 2 contract).
"""

import pytest
from conftest import SF_DIR

# (query, {fact_table: max allowed FileScan lines in the pre-execution plan})
_PINNED = [
    ("zone_report", {"events": 0}),
    ("dedup_minhash_lsh", {"documents": 0}),
    ("decontaminate_minhash_cross", {"documents": 0}),
    ("dedup_clusters_minhash", {"documents": 0}),
    ("embedding_near_dup", {"embeddings": 2}),
    ("decontamination_report", {"documents": 2, "embeddings": 2}),
    # snapshot sims: the simulated old/new snapshots derive from ONE
    # checkpointed projection per physical table (was orders x4 / x5 +
    # customer x6 through the alias-differing delta subtrees)
    ("incremental_orders_agg", {"orders": 0}),
    ("ivm_join_delta", {"orders": 0, "customer": 0}),
]


def _scan_counts(spark, name):
    import re
    from collections import Counter

    from hadoop_data_lake_spark.queries.registry import REGISTRY

    plan = (
        REGISTRY[name].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )
    c = Counter()
    for line in plan.splitlines():
        if "FileScan" in line:
            c.update(re.findall(r"(\w+)\.parquet", line))
    return c


@pytest.mark.parametrize("name,limits", _PINNED, ids=[p[0] for p in _PINNED])
def test_rebaseline_plans_are_single_pass(spark, name, limits):
    counts = _scan_counts(spark, name)
    for table, max_scans in limits.items():
        assert counts.get(table, 0) <= max_scans, (
            f"{name}: {table} scanned {counts.get(table, 0)}x "
            f"(pinned <= {max_scans}) — the r10 checkpoint restructuring "
            f"regressed; full counts: {dict(counts)}"
        )


# ---------------------------------------------------------------------------
# Densification grain rules (VERDICT r9 item 7): the r9 decisions were prose
# in COVERAGE.md — these fixtures pin the semantics so a refactor can't
# silently flip them. Rule 1: per-(event_type, day) series are densified
# over the FULL corpus day span (a sparse type's empty day is a real 0
# observation). Rule 2: corpus-wide daily series are deliberately NOT
# densified (a day with zero events across the whole corpus is an outage
# artifact that belongs to freshness audits, not a synthetic 0).
# ---------------------------------------------------------------------------

import datetime as _dt


def _write_events(spark, tmp_path, rows):
    """Events corpus in the driver layout: (event_id, ts, user_id,
    event_type, value, props)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    dest = str(tmp_path / "events.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(dest)
    return str(tmp_path)


def _sparse_type_corpus(spark, tmp_path):
    """5-day span; 'click' logs every day, 'error' only on days 1 and 5 —
    the sparse-type shape where densification matters."""
    rows = []
    eid = 0
    for d in range(5):
        ts = _dt.datetime(2024, 1, 1 + d, 12, 0, 0)
        eid += 1
        rows.append((eid, ts, 1, "click", 10.0 + d, None))
    for d in (0, 4):
        ts = _dt.datetime(2024, 1, 1 + d, 13, 0, 0)
        eid += 1
        rows.append((eid, ts, 2, "error", 5.0, None))
    return _write_events(spark, tmp_path, rows)


@pytest.fixture(scope="module")
def sparse_dir(spark, tmp_path_factory):
    return _sparse_type_corpus(spark, tmp_path_factory.mktemp("sparse"))


def test_ols_daily_trend_densifies_sparse_types(spark, sparse_dir):
    """The sparse 'error' type must fit over ALL 5 calendar days (3 of
    them zero-filled), not just its 2 occupied days — n_days is the
    span, and the slope sees the zero observations."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    out = {
        r["event_type"]: r
        for r in REGISTRY["ols_daily_trend"].fn(spark, sparse_dir).collect()
    }
    assert out["click"]["n_days"] == 5
    assert out["error"]["n_days"] == 5, (
        "sparse type fitted over occupied days only — densification lost"
    )
    # 2 occupied of 5 days: a fit over (5, 0, 0, 0, 5) cents-scale values
    # has slope 0 by symmetry; the undensified fit over (5, 5) has slope 0
    # too, so pin the INTERCEPT which differs (densified mean 2.0 vs 5.0)
    assert abs(out["error"]["intercept_r"] - 2.0) < 1e-6


def test_theil_sen_densifies_sparse_types(spark, sparse_dir):
    """Median-of-pairwise-slopes over the densified grid: C(5,2)=10 pairs
    per type, not C(2,2)=1 for the sparse type."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    out = {
        r["event_type"]: r
        for r in REGISTRY["theil_sen_daily_trend"].fn(spark, sparse_dir).collect()
    }
    assert out["click"]["n_pairs"] == 10
    assert out["error"]["n_pairs"] == 10, (
        "sparse type paired over occupied days only — densification lost"
    )


def test_autocorr_densifies_sparse_types(spark, sparse_dir):
    """Lag-k pairs over the densified series: lag 1 has span-1 = 4 pairs
    for EVERY type (the sparse type would have 1 undensified)."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    rows = REGISTRY["autocorr_daily_value"].fn(spark, sparse_dir).collect()
    n = {(r["event_type"], r["lag"]): r["n"] for r in rows}
    assert n[("click", 1)] == 4
    assert n[("error", 1)] == 4, (
        "sparse type lagged over occupied days only — densification lost"
    )


def test_corpus_wide_daily_series_not_densified(spark, tmp_path):
    """Counterexample rule: jackknife_daily_mean's day lattice is the
    OCCUPIED days. A corpus-wide zero day (total outage) must NOT be
    injected as a synthetic revenue-0 observation — 4 occupied days of a
    5-day span means n_days == 4."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    rows = []
    for i, d in enumerate((1, 2, 4, 5)):  # day 3 missing corpus-wide
        rows.append((i, _dt.datetime(2024, 1, d, 12, 0, 0), 1, "click", 10.0, None))
    d = _write_events(spark, tmp_path, rows)
    out = REGISTRY["jackknife_daily_mean"].fn(spark, d).collect()
    assert len(out) == 1
    assert out[0]["n_days"] == 4, (
        "corpus-wide series densified — the deliberate NOT-densified "
        "grain rule (COVERAGE.md Round 9) was flipped"
    )


def test_stream_replay_over_empty_source(spark, tmp_path):
    """VERDICT r9 item 5: an empty availableNow batch is a legal production
    state (an empty Kafka topic window). A zero-row events source must
    drain cleanly to a 0-row result with the stable output schema — for a
    windowed aggregate, a stateful applyInPandasWithState query, and a
    stream-static join (the three state-machinery shapes in the guard)."""
    import glob
    import shutil

    from hadoop_data_lake_spark.queries.registry import REGISTRY

    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    tmp = str(tmp_path / "part")
    src.limit(0).coalesce(1).write.parquet(tmp)
    dest = str(tmp_path / "events.parquet")
    shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], dest)
    for other in ("documents", "embeddings", "orders", "lineitem", "customer",
                  "supplier", "part", "nation", "region"):
        p = f"{SF_DIR}/{other}.parquet"
        import os
        if os.path.exists(p):
            os.symlink(p, str(tmp_path / f"{other}.parquet"))

    for name in ("stream_windowed_counts", "stream_running_max",
                 "stream_enriched_value"):
        out = REGISTRY[name].fn(spark, str(tmp_path))
        assert out.count() == 0, f"{name} emitted rows from an empty source"
        assert len(out.schema.fields) > 0, f"{name} lost its output schema"


def test_zone_report_values_survive_checkpoint_swap(spark):
    """The persist->localCheckpoint swap must be value-neutral: the
    flagship report at sf0.001 keeps its known grain and row count, and
    week/month totals stay internally consistent (the week total of a
    (week, month, zone) cell >= the cell's own count)."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.queries.registry import REGISTRY

    df = REGISTRY["zone_report"].fn(spark, SF_DIR)
    rows = df.count()
    assert rows > 0
    assert df.select("week", "month", "zone_id").distinct().count() == rows
    bad = df.where(
        (F.col("week_purchase") < 0)
        | (F.col("week_user") < 0)
        | (F.col("month_user") < 0)
    ).count()
    assert bad == 0


def test_graph_state_broadcast_cap_is_value_neutral(spark):
    """operators/graph._bcast_state must only change the JOIN STRATEGY,
    never values: pagerank_intexact, lpa_communities and kcore_peel give
    identical results with the broadcast forced off (cap -1, the 1e9-vertex
    path) and forced on (the bounded-state path). Integer arithmetic makes
    this exact — any divergence means the two physical plans computed
    different math, which would silently split correctness between bench
    scale and 100 TB."""
    import hadoop_data_lake_spark.operators.graph as G

    edges = spark.createDataFrame(
        [(a, b) for a in range(12) for b in range(12) if a != b and (a * 7 + b) % 3],
        "src long, dst long",
    )
    old_cap = G.BROADCAST_STATE_MAX_ROWS
    try:
        results = {}
        for mode, cap in (("bcast", 1_000_000), ("shuffle", -1)):
            G.BROADCAST_STATE_MAX_ROWS = cap
            pr = {
                (r["node"], r["rank_units"])
                for r in G.pagerank_intexact(edges, iters=4).collect()
            }
            lpa = {
                (r["vertex"], r["community"])
                for r in G.lpa_communities(edges, iters=3).collect()
            }
            kc = {
                (r["node"], r["deg"])
                for r in G.kcore_peel(edges, k=3, peels=2).collect()
            }
            results[mode] = (pr, lpa, kc)
    finally:
        G.BROADCAST_STATE_MAX_ROWS = old_cap
    assert results["bcast"] == results["shuffle"]
    assert results["bcast"][0], "pagerank produced no rows"
