"""End-to-end pretraining-data funnel (pipelines/pretrain_data.py), the
data-mix waterfill and the shard plan."""

import pyspark.sql.functions as F

from hadoop_data_lake_spark.pipelines.pretrain_data import run_pretrain_pipeline
from tests.conftest import SF_DIR, count_jobs


def test_pretrain_funnel_monotone_and_deterministic(spark):
    plan, funnel = run_pretrain_pipeline(spark, SF_DIR, n_shards=4)
    order = [
        "raw", "quality", "exact_dedup", "near_dedup", "span_dedup",
        "decontaminated", "near_decontaminated", "pii_redacted", "mixed",
    ]
    assert list(funnel) == order
    # every gate only removes rows
    for a, b in zip(order, order[1:]):
        assert funnel[b] <= funnel[a], (a, b, funnel)
    assert funnel["mixed"] > 0

    rows = plan.collect()
    assert len(rows) == funnel["mixed"]
    # balanced round-robin shards (within 1 row)
    per_shard = {}
    for r in rows:
        per_shard[r["shard"]] = per_shard.get(r["shard"], 0) + 1
    assert max(per_shard.values()) - min(per_shard.values()) <= 1

    # deterministic end to end: a second run yields the identical plan
    plan2, funnel2 = run_pretrain_pipeline(spark, SF_DIR, n_shards=4)
    assert funnel2 == funnel
    assert {(r["doc_id"], r["shard"], r["pos_in_shard"]) for r in rows} == {
        (r["doc_id"], r["shard"], r["pos_in_shard"]) for r in plan2.collect()
    }


def test_pretrain_probe_docs_are_held_out(spark):
    plan, _ = run_pretrain_pipeline(spark, SF_DIR, n_shards=4)
    probe_survivors = plan.where(F.col("doc_id") % 97 == 0).count()
    assert probe_survivors == 0  # the benchmark stand-in never trains


def test_cluster_safe_split_never_leaks_near_dup_pairs(spark):
    """The group-aware split's structural invariant: a near-dup pair can
    never straddle the split (both docs inherit their component's side),
    while the naive per-doc hash split measurably leaks on this corpus."""
    from hadoop_data_lake_spark.queries.northstar_queries import (
        cluster_safe_split_audit,
    )

    rows = {r["split_kind"]: r for r in cluster_safe_split_audit(spark, SF_DIR).collect()}
    assert rows["cluster_aware"]["leaked_pairs"] == 0
    assert rows["naive_hash"]["leaked_pairs"] > 0
    for r in rows.values():
        assert r["n_train"] + r["n_test"] == 500
        assert r["n_test"] > 0 and r["n_train"] > 0


def test_cluster_safe_split_audit_plans_its_counts_once(spark):
    """Both output rows come from one counts x leaks row: the plan holds
    one documents scan and no Union, and collecting the result runs 4
    jobs (7 when a union of two selects planned the documents scan, the
    comp join and the counts aggregate twice)."""
    from hadoop_data_lake_spark.queries.northstar_queries import (
        cluster_safe_split_audit,
    )

    df = cluster_safe_split_audit(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1 and "Union" not in plan
    rows, jobs = count_jobs(spark, df.collect)
    assert [r["split_kind"] for r in rows] == ["cluster_aware", "naive_hash"]
    assert jobs <= 4, jobs


def test_embedding_decontamination_flags_exactly_planted_probes(spark):
    """Every planted probe (+0.3 on one coordinate of a unit vector) must
    flag its source at cosine >= 0.9; nothing else crosses the gate."""
    from hadoop_data_lake_spark.queries.northstar_queries import (
        decontaminate_embedding_cosine,
    )

    rows = decontaminate_embedding_cosine(spark, SF_DIR).collect()
    assert {(r["vec_id"], r["probe_id"]) for r in rows} == {
        (v, v + 10_000_000) for v in range(0, 500, 50)
    }
    assert all(0.9 <= r["sim_r"] < 1.0 for r in rows)


def test_pretrain_funnel_counts_each_stage_inside_its_checkpoint(spark):
    """Each stage's row count is observed during the stage's eager
    checkpoint job. A separate count() per stage ran 63 jobs for a warm
    funnel here; observing the count must save at least one job per
    stage (9 stages)."""
    run_pretrain_pipeline(spark, SF_DIR, n_shards=4)  # warm: schema memo
    (_, funnel), jobs = count_jobs(
        spark, lambda: run_pretrain_pipeline(spark, SF_DIR, n_shards=4)
    )
    assert len(funnel) == 9
    assert jobs <= 63 - 9, jobs


def test_waterfill_respects_budget_and_level(spark):
    """Allocations never exceed the budget, uncapped sources keep every
    token, and capped sources all sit exactly at the water level."""
    from hadoop_data_lake_spark.queries.northstar_queries import data_mix_waterfill

    rows = data_mix_waterfill(spark, SF_DIR).collect()
    total = sum(r["toks"] for r in rows)
    budget = total // 2
    alloc = sum(r["alloc_toks"] for r in rows)
    assert alloc <= budget
    levels = {r["alloc_toks"] for r in rows if r["capped"]}
    assert len(levels) <= 1  # every capped source is cut at the same tau
    for r in rows:
        if not r["capped"]:
            assert r["alloc_toks"] == r["toks"]
    if levels:
        tau = levels.pop()
        # tau is maximal: raising the level by 1 for every capped source
        # would overshoot the budget.
        n_capped = sum(1 for r in rows if r["capped"])
        assert alloc + n_capped > budget
        assert all(r["toks"] > tau for r in rows if r["capped"])


def test_shard_lpt_plan_is_balanced_and_complete(spark):
    """Snake placement: all docs placed, 8 shards, and the heaviest shard
    is within one max-document of the lightest."""
    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.northstar_queries import shard_lpt_plan
    from pyspark.sql import functions as F

    rows = shard_lpt_plan(spark, SF_DIR).collect()
    assert sorted(r["shard"] for r in rows) == list(range(8))
    docs = read_table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    max_doc = docs.select(
        F.max(F.size(F.split(F.col("text"), " "))).alias("m")
    ).collect()[0]["m"]
    toks = [r["toks"] for r in rows]
    assert max(toks) - min(toks) <= max_doc
