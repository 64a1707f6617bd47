"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan build + execution + result fetch to the
driver via count/collect of the final frame). A short warmup query first so
JVM/codegen startup isn't billed to the first query.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_data_lake_spark.core.session import get_spark
from hadoop_data_lake_spark.queries.events_queries import (
    events_partitioned_range,
    materialize_events_by_date,
)
from hadoop_data_lake_spark.queries.registry import REGISTRY

# ---------------------------------------------------------------------------
# FROZEN headline (VERDICT r5 item 7): the canonical round-over-round set —
# the 36-query r3 table (35 registry queries + events_partitioned_range,
# timed separately below) plus 4 platform/LLM flagships added by r4/r5
# (pagerank_det, semdedup_prune, er_golden_record, bm25_retrieval) = 40.
# `headline_frozen_total` over THIS set is THE tracked number in BASELINE.md;
# the set does not grow. Everything else times under HEADLINE_EXTRAS.
# ---------------------------------------------------------------------------
# Control set for cross-round normalization (VERDICT r6 item 6): four
# flat-history queries; their geomean vs FROZEN absolutes measures
# box-wide drift (co-tenant load, thermal state) so per-query ratios can
# be read through it instead of re-running a manual adjudication
# (tools/adjudicate_bench.py) each round.
#
# RE-BASED at round 10 (VERDICT r9 item 1): three of the four got the
# single-pass checkpoint restructuring (zone_report 5->0 visible fact
# scans, embedding_near_dup 4->2 with the SRP UDF run once,
# dedup_clusters_minhash's minhash operator 6->0), which ends the r3-era
# comparability — BENCH_r09.json is the final old-plan record. The r10
# absolutes are the per-control MIN over two back-to-back full bench runs
# at HEAD (same best-of-N philosophy the bench itself uses; run1 measured
# under visible co-tenant load, run2 calm — ann_brute_force, the only
# UNCHANGED control plan, read 0.966/0.828 vs its 0.780 r3 absolute,
# bridging the eras at ~1.06x box drift). History of the r3 absolutes:
# zone_report 0.649, ann_brute_force 0.780, embedding_near_dup 1.024,
# dedup_clusters_minhash 2.829 (BENCH_r03.json, sf0.1, this box).
# Late-r10 amendment: the unbounded index checkpoints switched to the
# SERIALIZED storage level (core/io.checkpoint_serialized — 6.3x smaller
# in-memory footprint, the 100 TB posture win), which touches two of the
# four control plans. Each absolute is the per-control MIN over the HEAD
# runs of that control's FINAL plan: zone_report and ann_brute_force are
# untouched by the storage-level change (their minima stand from the
# first measurement pair); embedding_near_dup and dedup_clusters_minhash
# re-measured over a second back-to-back pair with serialized
# checkpoints (+0.2 s / +0.05 s — the deserialize-per-consumer cost the
# footprint buys).
# Final values: per-control MIN over ALL final-plan HEAD runs recorded
# this round (four runs). The procedure is CLOSED here — future rounds
# must NOT chase minima; a calm-box run reading control_inflation
# slightly below 1.0 is expected and fine (normalization is relative, so
# a small uniform bias in the absolutes cancels across rounds).
# Round-15 amendment (one control's plan changed — the same procedure as
# the r10 re-base, see BASELINE.md "Round-15 control re-base"):
# dedup_clusters_minhash gained the connected-components driver tier
# (union-find over the collected pair list; operators/graph.py), so its
# 2.294 old-plan absolute no longer describes the shipped plan. The
# r15-before bench (plans/r15/bench_detail_before.json, 2.463 @ 1.214)
# is the final old-plan record; the new absolute is the per-control MIN
# over the three final-plan full bench runs of the round (1.936 @ 1.347
# spiked, 1.860 @ 1.271 spiked, 1.736 @ 1.143). The other three controls'
# plans are untouched this round and their absolutes stand.
CONTROL_R10_ABSOLUTES = {
    "zone_report": 0.674,
    "ann_brute_force": 0.828,
    "embedding_near_dup": 0.962,
    "dedup_clusters_minhash": 2.412,
}

# Round-16 control FREEZE (VERDICT r15 item 8): dedup_clusters_minhash is
# both a control and an optimization target — a structural conflict that
# forced the r15 re-base and would force one again every time the driver
# tier (or its decline rules) moves. Controls are supposed to be FROZEN
# plans, so the control measurement now times the tier-sensitive controls
# with the shared driver-tier switch pinned OFF (the same pin the scale
# tier and the 100x scale probe use): the distributed star-loop plan is
# permanently frozen regardless of future tier work, and absolutes never
# re-base again. The headline `queries` entry keeps the tier-ON timing
# (that is the engine being tracked); only the control ratio uses the
# frozen-plan re-timing. The other three controls have no driver tier in
# their plans (verified: tier on/off plans identical), so their headline
# timings ARE their frozen-plan timings and they are not re-timed.
# dedup_clusters_minhash's frozen absolute (2.412) is the MEDIAN of the
# tier-off control re-timings over this round's final full bench runs
# (2.328 @ 1.014, 2.412 @ 1.084, 2.447 @ 1.036 — median per VERDICT r15
# item 4: the per-control MIN convention biased absolutes low), measured
# on the SAME distributed plan the r15-before record timed (the r15 tier
# commits did not change the distributed star loop; r16's only CC change
# is the decline-path refactor, which reuses the caller's checkpoint —
# one fewer materialization job, part of the frozen plan going forward).
# This CLOSES the control procedure: no future re-base, no minima.
CONTROL_TIER_SENSITIVE = {"dedup_clusters_minhash"}

HEADLINE_FROZEN = [
    "zone_report",
    "nearest_city",
    "q1_pricing_summary",
    "q3_order_revenue",
    "q5_nation_revenue",
    "q9_product_profit",
    "q10_returned_item_revenue",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "user_sessions",
    "purchase_attribution_asof",
    "top_orders_per_customer",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters_minhash",
    "text_stats",
    "decontaminate_ngram_overlap",
    "ann_brute_force",
    "ann_ivf_kmeans",
    "embedding_near_dup",
    "scd2_event_type_history",
    "doc_lm_perplexity",
    "chunk_text_windows",
    "user_value_interpolate",
    "coactivity_triangles",
    "export_shuffle_shards",
    "zorder_code_orders",
    # round-3 additions
    "span_dedup_corpus",
    "winnow_fingerprints",
    "ann_lsh_det",
    "incremental_orders_agg",
    "curriculum_order",
    "perplexity_filter",
    "stream_windowed_counts",
    "stream_session_stats",
    # platform/LLM flagships (r4/r5) completing the frozen 40
    "pagerank_det",
    "semdedup_prune",
    "er_golden_record",
    "bm25_retrieval",
]

HEADLINE_EXTRAS = [
    # round-4 additions
    "ann_pq_det",
    "concurrent_sessions",
    "decontaminate_minhash_cross",
    "session_pattern_match",
    "rolling_zscore_anomaly",
    "hilbert_code_orders",
    "geohash_cell_counts",
    "ivm_join_delta",
    # round-4 session-2 additions: deterministic sketches, fixed-point
    # graph iteration, bloom prefilter, KN smoothing
    "hll_det_daily_users",
    "kmv_distinct_users",
    "cms_token_counts",
    "bloom_semijoin_orders",
    "doc_lm_kneser_ney",
    "target_encode_event_type",
    "textrank_keywords",
    # round-4 session-3 additions: multimodal phash, leakage-safe split,
    # LPA communities (semdedup/ER/pagerank/bm25 moved to the frozen 40)
    "media_phash_near_dup",
    "cluster_safe_split_audit",
    "brand_communities_lpa",
    # round-5 additions: the prefix-sum reformulations (timing the
    # two-phase pattern at sf0.1) and the new distributed-selection /
    # graph / mixing / sharding operators
    "event_lateness_profile",
    "value_psi_drift",
    "gini_customer_revenue",
    "exact_value_quantiles",
    "hits_hubs_authorities",
    "data_mix_waterfill",
    "shard_lpt_plan",
]


# --------------------------------------------------------------------------
# Scale-shape tier (VERDICT r3 item 6): time the dedup/ANN/graph family on a
# 1x and a synthetic 10x corpus slice and report the runtime ratio. These
# operators' 100 TB viability rests on near-linear candidate generation
# (banded/bucketed indexes, hot-key caps); a quadratic escape is invisible
# at one size but shows up here as a ratio far above ~10.
# --------------------------------------------------------------------------

SCALE_MULT = 10
SCALE_BASE_ENV = "SPARK_GRAFT_SCALE_BASE"  # default: sf0.01 (keeps tier <1min)


def _scaled_docs(spark, base_dir: str, mult: int):
    """documents corpus replicated `mult`x with fresh ids and a per-copy
    positional token mask: in copy r, every token at position p with
    (p + r) % 3 != 0 gets a '_r' suffix. Within one copy the mask is
    shared, so base-corpus near-dup pairs survive per copy (pair count
    grows LINEARLY with mult); across copies no 3-token shingle survives
    intact, so copies of the same doc are NOT near-dups of each other —
    the earlier trailing-token scheme left them at Jaccard ~0.8 and made
    the TRUE pair set quadratic in mult, which read as a phantom
    super-linear operator (r4: 25 -> 25,000 output rows at 10x). Shingle
    statistics stay realistic (universe grows, hot shingles persist in
    the unmasked third). localCheckpoint so the timed region measures
    the operator, not corpus synthesis."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table

    docs = read_table(spark, base_dir, "documents").select("doc_id", "text")
    if mult > 1:
        rep = spark.range(mult).select(F.col("id").alias("rep"))
        new_id = F.col("doc_id") * mult + F.col("rep")
        toks = F.split(F.col("text"), " ")
        masked = F.array_join(
            F.transform(
                toks,
                lambda x, i: F.when(
                    (i + F.col("rep")) % 3 != 0,
                    F.concat(x, F.lit("_"), F.col("rep").cast("string")),
                ).otherwise(x),
            ),
            " ",
        )
        docs = docs.crossJoin(rep).select(
            new_id.alias("doc_id"), masked.alias("text")
        )
    return docs.localCheckpoint(eager=True)


def _scaled_embeddings(spark, base_dir: str, mult: int):
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table

    emb = read_table(spark, base_dir, "embeddings").select("vec_id", "embedding")
    if mult > 1:
        rep = spark.range(mult).select(F.col("id").alias("rep"))
        emb = emb.crossJoin(rep).select(
            (F.col("vec_id") * mult + F.col("rep")).alias("vec_id"), "embedding"
        )
    return emb.localCheckpoint(eager=True)


def _scaled_events(spark, base_dir: str, mult: int):
    """events replicated `mult`x with disjoint user-id spaces: every copy
    keeps realistic per-user time series (sessionization / as-of joins see
    the same per-key density) while keys and rows grow linearly."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table

    ev = read_table(spark, base_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    if mult > 1:
        rep = spark.range(mult).select(F.col("id").alias("rep"))
        ev = ev.crossJoin(rep).select(
            (F.col("event_id") * mult + F.col("rep")).alias("event_id"),
            "ts",
            (F.col("user_id") * mult + F.col("rep")).alias("user_id"),
            "event_type",
            "value",
        )
    return ev.localCheckpoint(eager=True)


def _scaled_edges(spark, base_dir: str, mult: int):
    """The customer->supplier purchase graph (pagerank_det's edge list)
    replicated `mult`x with DISJOINT node spaces (node*mult + rep is
    injective per rep and sign-preserving, so customer ids stay >= 0 and
    supplier ids stay < 0): per-copy structure — degree distribution,
    component shape, iteration depth — is identical, edges and vertices
    grow linearly. Iterative graph operators (PageRank / LPA / k-core)
    are per-round linear in edges, so their 10x ratio should track the
    corpus, not explode with it."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table

    orders = read_table(spark, base_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, base_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey") - 1).alias("dst"),
        )
        .distinct()
    )
    if mult > 1:
        rep = spark.range(mult).select(F.col("id").alias("rep"))
        edges = edges.crossJoin(rep).select(
            (F.col("src") * mult + F.col("rep")).alias("src"),
            (F.col("dst") * mult + F.col("rep")).alias("dst"),
        )
    return edges.localCheckpoint(eager=True)


def _graph_scale_ops(spark, edges):
    """Iteration-heavy graph family (VERDICT r5 item 6): fixed-round
    PageRank / LPA / k-core peeling — the per-round localCheckpoint shape
    whose scaling the single-size bench cannot see."""
    from hadoop_data_lake_spark.operators.graph import (
        kcore_peel,
        lpa_communities,
        pagerank_intexact,
    )

    return {
        "pagerank_10r": lambda: pagerank_intexact(edges, iters=10),
        "lpa_4r": lambda: lpa_communities(edges, iters=4),
        "kcore_peel_3r": lambda: kcore_peel(edges, k=4, peels=3),
    }


def _scale_ops(spark, docs, emb, mult):
    """name -> thunk returning the operator frame. All run with their SCALE
    defaults (hot-key caps ON) — this tier times the 100 TB configuration,
    not the oracle-replay one."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.operators import dedup as DD
    from hadoop_data_lake_spark.operators import multimodal as MM
    from hadoop_data_lake_spark.operators import similarity as SIM
    from hadoop_data_lake_spark.operators.graph import dedup_clusters

    queries = emb.where(F.col("vec_id") % 500 == 0)  # fixed-size query set
    return {
        "minhash_lsh_pairs": lambda: DD.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.3
        ),
        "jaccard_pairs_prefix": lambda: DD.jaccard_pairs_prefix_filter(
            docs, "doc_id", "text", k=3, threshold=0.3
        ),
        "winnow_overlap_pairs": lambda: DD.winnow_overlap_pairs(
            docs, "doc_id", "text", k=3, window=4, min_shared=2
        ),
        "dedup_clusters": lambda: dedup_clusters(
            DD.minhash_lsh_pairs(
                docs, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.3
            ).select("doc_a", "doc_b")
        ),
        "srp_int_topk": lambda: SIM.srp_int_topk(
            emb, queries, k=5, num_tables=4, bits_per_table=8, dim=64
        ),
        # SemDeDup scales its cluster count WITH the corpus (the paper's
        # k ~ n regime): cluster size stays constant, so the intra-cluster
        # pair join stays linear. Assignment uses the SRP-bucketed path —
        # exact assignment is n * k cosines, itself quadratic at k ~ n
        # (measured 13.8x at 10x in r4's scaled-k run); bucketed
        # assignment scores a constant number of candidate centroids per
        # point. This IS the documented 100 TB configuration.
        "semdedup_prune": lambda: SIM.semdedup_prune(
            emb, num_clusters=16 * mult, threshold=0.95, assign="srp"
        ),
        "phash_near_dup": lambda: MM.phash_near_dup_pairs(
            MM.perceptual_hash(MM.synth_media_from_text(docs, "doc_id", "text")),
            max_hamming=3,
        ),
    }


def _event_scale_ops(spark, ev):
    """Shuffle-heavy event operators for the scale tier: sessionization
    (window shuffle on user) and the as-of join (union + running last) —
    the two patterns whose exchanges dominate event pipelines."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.operators.asof import asof_join
    from hadoop_data_lake_spark.operators.windows import sessionize

    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("purchase_ts_us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_ts_us"),
    )
    from hadoop_data_lake_spark.operators.packing import prefix_agg

    return {
        # aggregate ON the session id so count() cannot prune the window
        "sessionize_events": lambda: sessionize(
            ev, ["user_id"], "ts", gap_seconds=1800
        ).groupBy("user_id", "session_id").count(),
        "asof_purchase_click": lambda: asof_join(
            purchases, clicks, on="user_id",
            left_ts="purchase_ts_us", right_ts="click_ts_us",
        ),
        # the round-5 prefix machinery nine queries now ride: global rank
        # + running max in one two-phase pass — must stay linear since
        # it replaced every Window.orderBy global sort.
        "prefix_agg_events": lambda: prefix_agg(
            ev.withColumn("__one", F.lit(1)),
            ["ts", "event_id"],
            sum_cols={"rk": "__one"},
            max_cols={"vmax": "value"},
        ).groupBy().agg(F.max("rk"), F.max("vmax")),
    }


def run_scale_tier(spark, base_dir: str) -> dict:
    """{op: {"t1x": s, "t10x": s, "ratio": r}} — best-of-2 timings: a
    single cold shot samples JIT + co-tenant noise (measured semdedup
     0.58s/11.5s cold vs 1.15s/5.55s warm on the same box — a phantom 20x
    ratio); the second rep prices the operator, not the JVM.

    The driver tiers are pinned OFF here (as the 100x scale probe in
    BENCH_NOTES.md did): this tier's whole purpose is the DISTRIBUTED
    loops' scaling shape, and the bounded driver tier would intercept the
    small scaled graphs and splice a Python-loop regime into the curve."""
    from hadoop_data_lake_spark.core import driver_tier as DT

    orig_tier = DT.GENERAL_DRIVER_TIER_ENABLED
    DT.GENERAL_DRIVER_TIER_ENABLED = False
    try:
        return _run_scale_tier_inner(spark, base_dir)
    finally:
        # restore the caller's value (not a hardcoded True): an exception
        # mid-tier must not leave the tier disabled for the rest of the
        # process, and a caller that deliberately disabled it (the
        # 100x scale probe's pattern) must stay disabled.
        DT.GENERAL_DRIVER_TIER_ENABLED = orig_tier


def _run_scale_tier_inner(spark, base_dir: str) -> dict:
    out: dict[str, dict] = {}
    frames = {
        1: (
            _scaled_docs(spark, base_dir, 1),
            _scaled_embeddings(spark, base_dir, 1),
            _scaled_events(spark, base_dir, 1),
            _scaled_edges(spark, base_dir, 1),
        ),
        SCALE_MULT: (
            _scaled_docs(spark, base_dir, SCALE_MULT),
            _scaled_embeddings(spark, base_dir, SCALE_MULT),
            _scaled_events(spark, base_dir, SCALE_MULT),
            _scaled_edges(spark, base_dir, SCALE_MULT),
        ),
    }
    for mult, (docs, emb, ev, edges) in frames.items():
        ops = _scale_ops(spark, docs, emb, mult)
        ops.update(_event_scale_ops(spark, ev))
        ops.update(_graph_scale_ops(spark, edges))
        for name, thunk in ops.items():
            best, rows = None, 0
            for _rep in range(2):
                t0 = time.perf_counter()
                rows = thunk().count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            key = "t1x" if mult == 1 else f"t{SCALE_MULT}x"
            out.setdefault(name, {})[key] = round(best, 3)
            print(f"# scale {name} {mult}x: {best:.3f}s ({rows} rows)", file=sys.stderr)
    # 3-point curve for the prefix-filter join (VERDICT r4 item 8): it sat at
    # 7.6-8.4x for a 10x corpus across runs — linear by construction, but the
    # closest op to the bound. A mid point distinguishes "linear with load
    # noise" (t3x/t1x ~ 3, t10x/t3x ~ 3.3) from a super-linear candidate
    # escape (ratios that grow with the multiplier).
    from hadoop_data_lake_spark.operators import dedup as DD

    docs3 = _scaled_docs(spark, base_dir, 3)
    best = None
    for _rep in range(2):
        t0 = time.perf_counter()
        rows = DD.jaccard_pairs_prefix_filter(
            docs3, "doc_id", "text", k=3, threshold=0.3
        ).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    out.setdefault("jaccard_pairs_prefix", {})["t3x"] = round(best, 3)
    print(f"# scale jaccard_pairs_prefix 3x: {best:.3f}s ({rows} rows)", file=sys.stderr)
    # 3-point curve for k-core peeling — the graph op closest to the bound
    # in r6 (2.14x at 10x): per-round degree aggregation + two semi-joins
    # are linear in edges, so a flat 3x point distinguishes fixed per-round
    # job overhead from a super-linear escape.
    from hadoop_data_lake_spark.operators.graph import kcore_peel

    edges3 = _scaled_edges(spark, base_dir, 3)
    best = None
    for _rep in range(2):
        t0 = time.perf_counter()
        rows = kcore_peel(edges3, k=4, peels=3).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    out.setdefault("kcore_peel_3r", {})["t3x"] = round(best, 3)
    print(f"# scale kcore_peel_3r 3x: {best:.3f}s ({rows} rows)", file=sys.stderr)
    for name, d in out.items():
        if d.get("t1x", 0) > 0:
            d["ratio"] = round(d[f"t{SCALE_MULT}x"] / d["t1x"], 2)
            if "t3x" in d:
                d["ratio3"] = round(d["t3x"] / d["t1x"], 2)
    return out


def _partitioned_events_root(sf_dir: str) -> str:
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return f"/tmp/spark_graft_bench/events_by_date_{sf_tag}"


def events_partitioned_range_bench(spark, sf_dir: str):
    """Date-partition-pruned week scan (materialization is one-time
    scaffolding, excluded from the timed region via the prepare step)."""
    return events_partitioned_range(spark, _partitioned_events_root(sf_dir))


def wait_for_calm_box() -> dict:
    """Bounded wait for a calm box before any timing starts (VERDICT r10
    item 5): the r10 official artifact landed on a box at 1-min load ~4+
    (control_inflation 1.331) while the same code read ~1.01 calm, making
    raw round-over-round unreadable without the normalization footnote.
    The discipline documented in BENCH_NOTES (poll load before timed runs)
    now lives in the harness itself so the artifact the driver stamps gets
    it too. Polls the 1-minute load average until it drops under
    $SPARK_GRAFT_CALM_LOAD (default 1.0 — observed calm runs sat at
    0.2-0.64 on 32 CPUs, while BENCH_r11 started at exactly the old 2.0
    threshold as an 8.86 spike drained and recorded inflation 1.403;
    VERDICT r11 item 1) or $SPARK_GRAFT_CALM_WAIT_S (default 420 — bounded
    well under any plausible harness timeout for the whole bench) elapses;
    never blocks forever — an always-loaded box proceeds and the control
    geomean still normalizes it. Returns a self-describing record for the
    payload. Runs BEFORE the SparkSession exists so our own JVM never
    counts against the threshold."""
    threshold = float(os.environ.get("SPARK_GRAFT_CALM_LOAD", "1.0"))
    max_wait = float(os.environ.get("SPARK_GRAFT_CALM_WAIT_S", "420"))
    t0 = time.monotonic()
    load = os.getloadavg()[0]
    first = load
    while load >= threshold and time.monotonic() - t0 < max_wait:
        print(f"# calm-box gate: 1-min load {load:.2f} >= {threshold}; "
              "waiting...", file=sys.stderr)
        time.sleep(15)
        load = os.getloadavg()[0]
    waited = round(time.monotonic() - t0, 1)
    if waited:
        print(f"# calm-box gate: proceeding at load {load:.2f} after "
              f"{waited}s", file=sys.stderr)
    return {
        "threshold": threshold,
        "load_at_invoke": round(first, 2),
        "load_at_start": round(load, 2),
        "waited_s": waited,
        "timed_out": load >= threshold,
    }


# Mid-run spike annotation (VERDICT r11 item 1): the start gate can't see
# a co-tenant spike that lands DURING the timed region (run 2's
# ann_brute_force read 1.519 and the discarded r11 third run 1.912 — both
# mid-run spikes on a calm-started box). A control reading above this
# factor of its recorded absolute is flagged into the payload so the
# judge's normalization has an explicit machine-readable marker instead
# of a footnote.
SPIKE_RATIO = 1.5


def spike_stamp(control_ratios: dict, factor: float = SPIKE_RATIO) -> dict:
    """{spike_suspected, spike_controls, spike_factor} from control
    ratios (this run / recorded absolute). Pure; pinned by tests."""
    over = sorted(n for n, r in control_ratios.items() if r > factor)
    return {
        "spike_suspected": bool(over),
        "spike_controls": over,
        "spike_factor": factor,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    calm = wait_for_calm_box()
    spark = get_spark("bench")

    # Warmup at a smaller SF: run every headline query once so codegen
    # compilation + C2 JIT of the generated kernels (md5 hashing, HOF eval,
    # pandas-UDF runner, shuffle machinery) is paid before timing starts.
    # Standard JVM-benchmark hygiene; sf0.01 gives C2 enough row volume to
    # actually compile the hot loops (sf0.001 left them interpreted).
    # Prepare (untimed): partitioned events datasets for the pruning bench.
    materialize_events_by_date(spark, sf_dir, _partitioned_events_root(sf_dir))

    warm_dir = "/root/testdata/sf0.01"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        materialize_events_by_date(spark, warm_dir, _partitioned_events_root(warm_dir))
        for name in HEADLINE_FROZEN + HEADLINE_EXTRAS:
            try:
                REGISTRY[name].fn(spark, warm_dir).count()
            except Exception as exc:  # never let warmup sink the bench
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)
        events_partitioned_range_bench(spark, warm_dir).count()
    REGISTRY["weekly_type_pivot"].fn(spark, sf_dir).count()

    # Best-of-N timing: this box's wall-clock varies 2-3x run-to-run under
    # co-tenant load + JIT/GC spikes (measured: same query 2.0s / 8.1s / 2.0s
    # back-to-back). The minimum over repeats estimates steady-state engine
    # throughput — what actually scales to the cluster — instead of sampling
    # scheduler noise. Streaming replays get best-of-2 (VERDICT r7 item 2):
    # the earlier single rep let one noisy availableNow replay read as a 3x
    # regression (r7 driver 5.37s vs adjudicated 1.78s) — one awaitTermination
    # poll under co-tenant load is pure noise, two bound it; more reps would
    # dominate bench time since each replay re-runs the whole micro-batch
    # pipeline. Streams are floored at 2 even under SPARK_GRAFT_BENCH_REPS=1
    # (driver-ADVICE r8: min(2, reps) silently reverted them to the
    # single-rep mode whose noise manufactured the r7 false 3x flags).
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def timed(name: str, fn) -> None:
        n_reps = 2 if name.startswith("stream_") else reps
        best, rows = float("inf"), 0
        for _ in range(n_reps):
            t0 = time.perf_counter()
            rows = fn().count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s ({rows} rows)", file=sys.stderr)

    timings: dict[str, float] = {}
    for name in HEADLINE_FROZEN + HEADLINE_EXTRAS:
        timed(name, lambda name=name: REGISTRY[name].fn(spark, sf_dir))
    timed(
        "events_partitioned_range",
        lambda: events_partitioned_range_bench(spark, sf_dir),
    )

    # Frozen-plan control re-timings (see CONTROL_TIER_SENSITIVE note):
    # tier-sensitive controls get a second, driver-tier-OFF timing used
    # ONLY for the control ratio; their headline entry above is untouched.
    from hadoop_data_lake_spark.core import driver_tier as DT

    control_timings = {
        n: t for n, t in timings.items() if n in CONTROL_R10_ABSOLUTES
    }
    orig_tier = DT.GENERAL_DRIVER_TIER_ENABLED
    DT.GENERAL_DRIVER_TIER_ENABLED = False
    try:
        for name in sorted(CONTROL_TIER_SENSITIVE):
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                REGISTRY[name].fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
            control_timings[name] = round(best, 3)
            print(f"# control[frozen] {name}: {control_timings[name]:.3f}s",
                  file=sys.stderr)
    finally:
        DT.GENERAL_DRIVER_TIER_ENABLED = orig_tier

    scale_base = os.environ.get(SCALE_BASE_ENV, "/root/testdata/sf0.01")
    scale_check = run_scale_tier(spark, scale_base) if os.path.isdir(scale_base) else {}

    total = round(sum(timings.values()), 3)
    frozen_total = round(
        sum(timings[n] for n in HEADLINE_FROZEN)
        + timings["events_partitioned_range"],
        3,
    )
    # Box-drift control: geomean of (this run / r10 absolute) over the four
    # flat-history controls. Read every cross-round ratio THROUGH this
    # number (a query at 1.4x under a 1.4x control is flat in real terms).
    # The r10 absolutes are sf0.1 timings, so the factor is only meaningful
    # when THIS run is also sf0.1 (driver-ADVICE r7): a run at another SF
    # (SPARK_GRAFT_SF_DIR override) records control_inflation = None and
    # carries control_baseline_sf so the artifact is self-describing.
    # control_set lists the controls ACTUALLY in the geomean — a missing
    # timing is warned about, not silently dropped (driver-ADVICE r7).
    CONTROL_BASELINE_SF = 0.1
    sf_num = float(sf) if sf.replace(".", "").isdigit() else None
    controls_used = [n for n in CONTROL_R10_ABSOLUTES if control_timings.get(n)]
    for n in CONTROL_R10_ABSOLUTES:
        if n not in controls_used:
            print(f"# WARNING: control query {n} missing from timings; "
                  "control_inflation geomean excludes it", file=sys.stderr)
    control_ratios = {
        n: round(control_timings[n] / CONTROL_R10_ABSOLUTES[n], 3)
        for n in controls_used
    }
    if sf_num == CONTROL_BASELINE_SF and control_ratios:
        control_inflation = round(
            math.exp(
                sum(math.log(r) for r in control_ratios.values())
                / len(control_ratios)
            ),
            3,
        )
    else:
        control_inflation = None
        if sf_num != CONTROL_BASELINE_SF:
            print(f"# control_inflation suppressed: run sf={sf} != baseline "
                  f"sf{CONTROL_BASELINE_SF} of CONTROL_R10_ABSOLUTES",
                  file=sys.stderr)
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "headline_frozen_total": frozen_total,
        "headline_frozen": HEADLINE_FROZEN + ["events_partitioned_range"],
        "control_inflation": control_inflation,
        "control_baseline_sf": CONTROL_BASELINE_SF,
        "control_set": controls_used,
        "control_ratios": control_ratios,
        "control_frozen_timings": control_timings,
        "queries": timings,
        "calm_box": calm,
        # only meaningful against same-SF absolutes: a non-sf0.1 run's
        # ratios measure fixed overhead, not load (control_inflation is
        # suppressed there for the same reason)
        **spike_stamp(control_ratios if control_inflation is not None else {}),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "scale_check": {
            "mult": SCALE_MULT,
            "base": scale_base,
            "ops": scale_check,
        },
    }
    # The driver captures only the LAST ~2000 chars of stdout and parses the
    # final line; round 4's full payload (59 queries + the scale tier) outgrew
    # that window, truncating the line's HEAD and leaving the round with no
    # machine-readable headline (BENCH_r04 "parsed": null). The full payload
    # goes to bench_detail.json; stdout gets one line guaranteed to fit —
    # with the per-query map when it fits, without it when it would not.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(f"# full per-query detail -> {detail_path}", file=sys.stderr)

    # Round 16 (VERDICT r15 item 1): the old compact line dropped the
    # whole `queries` map whenever the line exceeded 1800 chars — which 65
    # queries at 3 decimals always did — so PERF_r15.json had per_query {}
    # and the driver graded the optimization round on totals alone. The
    # map now ships at 2 decimals (1902 chars measured on the r15 detail)
    # with the redundant compact fields (control_ratios, load_at_start,
    # detail — all still in bench_detail.json) trimmed, and the fallback
    # cutoff raised to 1950: still inside the ~2000-char tail window the
    # driver parses, with the map's 3-decimal source of truth unchanged in
    # bench_detail.json and the same entries under the same names.
    compact = {
        "metric": payload["metric"],
        "value": total,
        "unit": "sec",
        "headline_frozen_total": frozen_total,
        "control_inflation": control_inflation,
        "spike_suspected": payload["spike_suspected"],
        "n_queries": len(timings),
        "sf": payload["sf"],
        "queries": {n: round(t, 2) for n, t in timings.items()},
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:  # stay inside the 2000-char tail window
        del compact["queries"]
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
