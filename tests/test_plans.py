"""Physical-plan regression tests: the scale properties README claims must
actually show up in the executed plans (broadcasts, pushdown, partial
aggregation, WindowGroupLimit, no Python in JVM-only paths), and tools/plan_audit.py's checks."""

import pytest

from hadoop_data_lake_spark.queries.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_nearest_city_tier_plans_no_exchange_join_or_aggregate(spark):
    """The collected city dimension turns the argmin into one projection."""
    plan = _plan(spark, "nearest_city")
    for op in ("Exchange", "Join", "Aggregate", "Window"):
        assert op not in plan


def test_nearest_city_broadcasts_dim_and_aggregates_argmin(spark, tiers):
    tiers(False)
    plan = _plan(spark, "nearest_city")
    # 25-row city dim must broadcast under the cross join
    assert "BroadcastNestedLoopJoin" in plan
    # argmin via a min(struct) aggregate per row id (struct-valued buffers
    # plan as SortAggregate): the PARTIAL stage collapses the 25 candidates
    # per event map-side before the shuffle, final after
    assert "partial_min(" in plan
    assert plan.count("Aggregate") >= 2
    assert "Window" not in plan


def test_q1_partial_aggregation_and_pushdown(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # partial (map-side) + final HashAggregate pair
    assert plan.count("HashAggregate") >= 2
    # the date filter reaches the parquet scan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_q5_broadcasts_small_dims(spark):
    plan = _plan(spark, "q5_nation_revenue")
    assert "BroadcastHashJoin" in plan


def test_q6_scan_prunes_columns(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    # only the 4 needed columns are read — not l_tax/l_returnflag/etc.
    assert "l_quantity" in scan and "l_shipdate" in scan
    assert "l_tax" not in scan and "l_returnflag" not in scan


def test_topk_uses_window_group_limit(spark):
    assert "WindowGroupLimit" in _plan(spark, "top_orders_per_customer")


def test_near_dup_has_no_unbounded_self_join(spark):
    """embedding_near_dup must be candidate/verify (SRP band equi-join),
    never the O(n^2) theta self-join — the round-1 scale-killer."""
    plan = _plan(spark, "embedding_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the band-key candidate join is an equi-join (hash or sort-merge)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_asof_join_is_pure_jvm_single_shuffle(spark):
    plan = _plan(spark, "purchase_attribution_asof")
    # no Python evaluation nodes anywhere in the as-of path
    for marker in ("FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
    # the event_type filters push to the scan
    assert "EqualTo(event_type,purchase)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_minhash_pipeline_is_pure_jvm(spark):
    plan = _plan(spark, "dedup_minhash_lsh")
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan
    # signature minima computed as aggregates (partial+final), not HOFs
    assert plan.count("HashAggregate") >= 2


def test_global_topk_avoids_full_sort(spark):
    # orderBy + limit compiles to TakeOrderedAndProject — only k rows per
    # partition survive, no global sort materializes
    assert "TakeOrderedAndProject" in _plan(spark, "top20_orders_global")


def test_q7_prefiltered_dims_broadcast(spark):
    plan = _plan(spark, "q7_volume_shipping")
    # nation-filtered supplier and customer sides must broadcast; the only
    # sort-merge-eligible shuffle join is lineitem x orders
    assert plan.count("BroadcastHashJoin") >= 3
    # the ship-date range filter reaches the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_q18_having_filter_precedes_joins(spark):
    plan = _plan(spark, "q18_large_volume_customers")
    # the qty threshold must run as a Filter over the aggregate, i.e. appear
    # deeper than (after) the joins in the plan tree — joins see only
    # qualifying orders
    agg_filter_pos = plan.find("qty_units")
    assert agg_filter_pos != -1
    assert plan.count("HashAggregate") >= 2  # partial+final on l_orderkey


def test_q21_single_lineitem_scan(spark):
    plan = _plan(spark, "q21_waiting_suppliers")
    # the window rewrite reads lineitem exactly once
    assert sum(
        1 for line in plan.splitlines()
        if "FileScan parquet" in line and "lineitem" in line
    ) == 1


def test_salted_join_no_straggler_key(spark):
    plan = _plan(spark, "salted_type_weight_sum")
    # join key must include the salt column so hot event_type keys spread
    assert "__salt" in plan


def test_rollup_is_single_expand_aggregate(spark):
    plan = _plan(spark, "regional_revenue_rollup")
    # ROLLUP plans as one Expand + aggregate, not a union of three aggs
    assert "Expand" in plan
    assert "Union" not in plan


def test_merge_upsert_is_one_full_outer_join(spark):
    plan = _plan(spark, "orders_snapshot_merge")
    assert "FullOuter" in plan
    # exactly one join for the whole merge
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count("BroadcastHashJoin") == 1


def test_events_partitioned_scan_prunes_directories(spark, tmp_path):
    """read_partitioned + date range filter must prune at PARTITION level
    (the reference's save_mes_geo.py:16-22 path-enumeration pattern,
    expressed declaratively): the range lands in PartitionFilters and the
    scan lists only the in-range date= directories."""
    from hadoop_data_lake_spark.queries.events_queries import (
        events_partitioned_range,
        materialize_events_by_date,
    )

    from hadoop_data_lake_spark.core.io import read_partitioned

    root = str(tmp_path / "events_by_date")
    materialize_events_by_date(spark, SF, root)
    out = events_partitioned_range(spark, root, "2024-01-08", "2024-01-14")
    out_days = read_partitioned(spark, root, "date", "2024-01-08", "2024-01-14").select("date").distinct()
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    # the range predicate is applied at PARTITION level, not as a data
    # filter: listing prunes to the 7 in-range date= directories
    part_filters = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "date" in part_filters and ">= 2024-01-08" in part_filters and "<= 2024-01-14" in part_filters
    assert "DataFilters: []" in scan
    days = {str(r["date"]) for r in out_days.collect()}
    assert days == {f"2024-01-{d:02d}" for d in range(8, 15)}
    rows = out.collect()
    assert len(rows) == 5  # one row per event_type
    assert all(r["n_events"] > 0 for r in rows)


def test_join_strategy_hints_are_honored(spark):
    """Join-strategy control: the engine exposes Spark's full strategy set —
    broadcast (asserted elsewhere), shuffle_hash (skew-tolerant, no sort),
    merge (sort-merge) — via hints that survive to the physical plan."""
    a = spark.range(0, 10000).selectExpr("id as k", "id * 2 as v")
    b = spark.range(0, 1000).selectExpr("id as k", "id * 3 as w")
    sh = a.join(b.hint("shuffle_hash"), "k")
    assert "ShuffledHashJoin" in sh._jdf.queryExecution().executedPlan().toString()
    sm = a.join(b.hint("merge"), "k")
    assert "SortMergeJoin" in sm._jdf.queryExecution().executedPlan().toString()


def test_observe_metrics_piggyback_on_pass(spark):
    """df.observe: data-quality counters collected DURING a real action —
    no second scan (the production pattern for row-count/null-rate audits
    on 100 TB passes)."""
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    obs = Observation("quality")
    df = spark.range(1000).selectExpr(
        "id", "case when id % 10 = 0 then null else id end as v"
    )
    audited = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("v").isNull().cast("long")).alias("null_v"),
    )
    assert audited.where("id >= 0").count() == 1000
    assert obs.get == {"rows": 1000, "null_v": 100}


def test_runtime_bloom_filter_prunes_big_side(spark, tmp_path):
    """Runtime bloom-filter join pruning: a selective dim-side filter
    injects a bloom semi-filter on the fact side BEFORE the shuffle — at
    100 TB this drops most fact rows at the scan instead of shuffling them.
    On by default (spark.sql.optimizer.runtime.bloomFilter.enabled) with a
    10 GB fact-scan threshold; lowered here only to demonstrate on test
    data."""
    big_p, dim_p = str(tmp_path / "big"), str(tmp_path / "dim")
    spark.range(0, 200000).selectExpr("id as k", "id * 2 as v").write.parquet(big_p)
    spark.range(0, 5000).selectExpr("id as k", "id % 100 as tag").write.parquet(dim_p)
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = spark.read.parquet(big_p)
        dim = spark.read.parquet(dim_p).where("tag = 3")
        j = big.join(dim, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        assert j.count() == 50
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_join_strategy_hints_control_physical_plan(spark):
    """The same logical join compiles to all three physical strategies on
    demand — hint-level control matters at 100 TB where the optimizer's
    stats-based choice can be wrong (e.g. a filtered dim it can't size)."""
    import pyspark.sql.functions as F

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.range(10_000).withColumnRenamed("id", "k")
        b = spark.range(1_000).withColumnRenamed("id", "k")

        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        smj = plan(a.join(b.hint("merge"), "k"))
        assert "SortMergeJoin" in smj
        bhj = plan(a.join(F.broadcast(b), "k"))
        assert "BroadcastHashJoin" in bhj
        shj = plan(a.join(b.hint("shuffle_hash"), "k"))
        assert "ShuffledHashJoin" in shj
        # all three agree on the result, obviously
        assert a.join(b.hint("shuffle_hash"), "k").count() == 1_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_ohlc_is_single_shuffle_hash_aggregate(spark):
    """OHLC via min_by/max_by struct keys must stay one hash aggregation
    (one Exchange), no window sort — the argmin-over-agg formulation."""
    plan = _plan(spark, "user_value_ohlc")
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_entropy_is_one_scan_two_aggregations(spark):
    """The log-sum identity keeps entropy to stacked aggregations over ONE
    fact scan (the counts->totals join draft re-scanned: plan-audit
    regression guard)."""
    plan = _plan(spark, "user_type_entropy")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_pq_det_broadcasts_luts_and_avoids_python_in_scoring(spark):
    """Deterministic PQ: the per-query LUT side must broadcast (corpus side
    never shuffles for the ADC scan) and the ADC scoring itself is JVM
    HOFs — the only Python is the encode pandas UDF."""
    plan = _plan(spark, "ann_pq_det")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # exactly one Arrow-batched python stage (the encoder)
    assert plan.count("ArrowEvalPython") == 1


def test_minhash_cross_broadcasts_probe_side(spark):
    """Cross-corpus decontamination must broadcast the probe-side indexes —
    the corpus side of the candidate join never shuffles."""
    plan = _plan(spark, "decontaminate_minhash_cross")
    assert "BroadcastHashJoin" in plan


def test_target_encoding_is_one_scan_one_shuffle_plus_window(spark):
    """All five folds' out-of-fold means must derive from ONE events scan
    and ONE (type, fold) aggregation — the subtraction identity; a naive
    per-fold filtered re-scan would show 5 FileScans."""
    plan = _plan(spark, "target_encode_event_type")
    assert plan.count("FileScan parquet") == 1


def test_autocorr_single_scan_single_sort(spark):
    """Lags 1-3 ride one window pass over the DENSIFIED daily frame. The
    round-9 densification checkpoints the (type, day) aggregate, so the
    visible plan has ZERO FileScans — the corpus is scanned exactly once
    at checkpoint build, and the span/grid/left-join all derive from the
    tiny aggregate (without the checkpoint the plan probe measured 3
    events scans: one per alias-differing consumer)."""
    plan = _plan(spark, "autocorr_daily_value")
    assert plan.count("FileScan parquet") == 0
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


def test_bloom_semijoin_broadcasts_bitset_and_dim(spark):
    """Both the bloom bucket set and the exact-join customer side must
    broadcast — the orders side may shuffle for its own aggregation but
    never for a join build."""
    plan = _plan(spark, "bloom_semijoin_orders")
    assert plan.count("BroadcastExchange") >= 2


def test_kneser_ney_model_reused_not_rederived(spark):
    """The bigram model feeds fwd/bwd/btot re-aggregations and the scoring
    join; localCheckpoint must keep the corpus explode to a bounded number
    of scans (2: model build + rescore) instead of one per consumer."""
    plan = _plan(spark, "doc_lm_kneser_ney")
    assert plan.count("FileScan parquet") <= 2


def test_hll_det_register_state_is_integer(spark):
    """The HLL query's schema must carry the rounded estimate and exact
    count only — and its physical plan one scan for the register pipeline
    plus one for the exact count (the join of two aggregations)."""
    plan = _plan(spark, "hll_det_daily_users")
    assert plan.count("FileScan parquet") <= 2


def test_bm25_builds_on_single_token_explode(spark):
    """tf/dl/df/stats all derive from ONE exploded token frame: the plan
    may re-scan documents a bounded number of times (tf + query side) but
    must never explode per-consumer (the kneser-ney lesson)."""
    plan = _plan(spark, "bm25_retrieval")
    # tf is checkpointed: only the query-token side re-reads documents
    assert plan.count("FileScan parquet") <= 2


def test_knn_eval_broadcasts_probe_side(spark):
    """The 10% test split must broadcast against the train corpus — the
    corpus side never shuffles for the similarity join."""
    plan = _plan(spark, "knn_label_eval")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_nb_classifier_single_training_aggregation(spark):
    """Sufficient statistics (class-token counts) must come from one
    aggregation pipeline; class totals and vocab re-aggregate the MODEL,
    not the corpus."""
    plan = _plan(spark, "nb_source_classifier")
    # labels + tokenized corpus are checkpointed: zero live document scans
    # remain in the final plan (both materializations happen up front)
    assert plan.count("FileScan parquet") <= 2


def test_theil_sen_self_join_is_post_aggregation(spark):
    """The quadratic pairwise-slope join must operate on the aggregated
    (and round-9: densified + checkpointed) daily frame, never on raw
    events: zero FileScans in the visible plan (one corpus pass at
    checkpoint build) and no cartesian pair generation."""
    plan = _plan(spark, "theil_sen_daily_trend")
    assert plan.count("FileScan parquet") == 0
    assert "CartesianProduct" not in plan


def test_semdedup_pair_join_is_equi_on_cluster(spark):
    """SemDeDup: the assignment frame is localCheckpoint-ed (its centroid
    cross join — broadcast by construction, F.broadcast in the operator —
    runs once and leaves the final plan); the visible plan must show the
    intra-cluster work as an EQUI join on cluster id, never a cartesian
    pair generation."""
    plan = _plan(spark, "semdedup_prune")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # no all-pairs fallback
    assert "cl_a" in plan and "cl_b" in plan  # join keyed on cluster ids


def test_er_golden_record_broadcasts_vocabulary(spark):
    """Collapse-then-link ER: the record table is joined to the (tiny)
    distinct-name entity map via broadcast; no shuffle of the record table
    for the pairwise stage (which lives entirely in vocabulary space)."""
    plan = _plan(spark, "er_golden_record")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_embedding_decontamination_broadcasts_probes(spark):
    """Cross-corpus decontamination: the probe (benchmark) side broadcasts;
    the training corpus is scanned once and never shuffled for the
    threshold scan; per-vector top-1 is a WindowGroupLimit."""
    plan = _plan(spark, "decontaminate_embedding_cosine")
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan


def test_phash_near_dup_is_equi_banded(spark):
    """Perceptual-hash near-dup: candidates come from an equi-join on the
    (chunk, value) band key — no nested-loop/cartesian pair generation —
    and the hashing runs in one Arrow pass (single Python stage)."""
    plan = _plan(spark, "media_phash_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning: joining a date-partitioned fact with a
    FILTERED small dim must inject a runtime partition filter (the dim's
    surviving keys prune fact partitions at execution, not plan, time) —
    the mechanism star-schema scans at 100 TB live on. Requires the fact
    to be partitioned on the join key and the dim filter to be selective;
    asserted via the dynamicpruning subquery marker in the plan."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.core.io import read_table, write_overwrite

    ev = read_table(spark, SF, "events").withColumn("d", F.to_date("ts"))
    root = str(tmp_path / "events_by_date")
    write_overwrite(ev, root, partition_by="d")

    fact = spark.read.parquet(root)
    dim = (
        fact.select("d").distinct().limit(3)
        .withColumn("flag", F.lit(1))
    )
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    dim_t = spark.read.parquet(str(tmp_path / "dim")).where(F.col("flag") == 1)

    joined = fact.join(dim_t, "d").groupBy("d").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_plan_audit_flags_unbounded_following_frames(spark):
    """The audit's UNBOUNDED-FOLLOWING class fails a currentRow..
    unboundedFollowing frame (recomputed per row) in ROWS and RANGE form,
    and passes running and whole-partition frames."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from tools.plan_audit import unbounded_following_frames

    df = spark.createDataFrame([(1, 1, 1.0), (1, 2, None)], "k long, t long, v double")
    w = Window.partitionBy("k").orderBy("t")

    def flags(frame):
        out = df.withColumn("x", F.first("v", ignorenulls=True).over(frame))
        return unbounded_following_frames(out._jdf.queryExecution().executedPlan().toString())

    bad = "UNBOUNDED-FOLLOWING"
    assert flags(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)) == [bad]
    assert flags(w.rowsBetween(-1, Window.unboundedFollowing)) == [bad]
    assert flags(w.rangeBetween(Window.currentRow, Window.unboundedFollowing)) == [bad]
    assert flags(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) == []
    assert flags(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)) == []


_FAKE_PLAN = "\n".join(
    [
        "*(1) Project [a]",
        "+- FileScan parquet [a] ... Location: InMemoryFileIndex(1 paths)[file:/d/events.parquet]",
        "+- FileScan parquet [a] ... Location: InMemoryFileIndex(1 paths)[file:/d/events.parquet]",
        "+- FileScan parquet [a] ... Location: InMemoryFileIndex(1 paths)[file:/d/events.parquet]",
        "+- FileScan parquet [a] ... Location: InMemoryFileIndex(1 paths)[file:/d/events.parquet]",
        "+- FileScan parquet [b] ... Location: InMemoryFileIndex(1 paths)[file:/d/nation.parquet]",
        "+- FileScan parquet [b] ... Location: InMemoryFileIndex(1 paths)[file:/d/nation.parquet]",
        "+- FileScan parquet [c] ... Location: InMemoryFileIndex(1 paths)[file:/d/orders.parquet]",
        "   events.parquet mentioned on an unrelated plan line must not count",
    ]
)


def test_fact_rescans_counts_only_filescan_lines():
    from tools.plan_audit import fact_rescans

    r = fact_rescans(_FAKE_PLAN)
    assert r == {"events": 4}, r  # nation is a dim; orders appears once


def test_fact_rescan_allowlist_empty():
    """r10: every exemption is closed — the control-freeze family fell at
    the control re-baseline (index-frame checkpoints), the multi-layer
    report through the shared operators, and the two snapshot sims by
    checkpointing the single projected base their simulated old/new
    snapshots derive from. A future entry must be a named, reviewed
    addition, not a leftover."""
    from tools.plan_audit import FACT_RESCAN_ALLOW

    assert FACT_RESCAN_ALLOW == set()


# Checkpointed plans: the fact tables these queries read are scanned at
# most the pinned number of times in the pre-execution plan (the band,
# shingle and aggregate indexes are checkpointed; embedding_near_dup keeps
# its two column-pruned verify scans on purpose — re-scanning pruned
# parquet beats storing a copy of the embedding payload). plan_audit
# flags >= 4 scans; these pin the actual <= 2 contract.


_PINNED_SCANS = [
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


def _fact_scan_counts(spark, name):
    import re
    from collections import Counter

    from hadoop_data_lake_spark.queries.registry import REGISTRY

    plan = (
        REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    c = Counter()
    for line in plan.splitlines():
        if "FileScan" in line:
            c.update(re.findall(r"(\w+)\.parquet", line))
    return c


@pytest.mark.parametrize("name,limits", _PINNED_SCANS, ids=[p[0] for p in _PINNED_SCANS])
def test_checkpointed_plans_scan_facts_at_most_pinned(spark, name, limits):
    counts = _fact_scan_counts(spark, name)
    for table, max_scans in limits.items():
        assert counts.get(table, 0) <= max_scans, (
            f"{name}: {table} scanned {counts.get(table, 0)}x "
            f"(pinned <= {max_scans}) — the checkpoint restructuring "
            f"regressed; full counts: {dict(counts)}"
        )
