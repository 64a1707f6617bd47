"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "headline_frozen_total": N,
     "n_queries": N, "sf": ..., "queries": {...}}

Every timed entry (the headline queries, events_partitioned_range, the
sf0.01 warm-up and the 1x/3x/10x scale tier) goes through `time_full`: it
builds the frame and computes the whole result with a noop write, as
perfbench's steps do (`count()` would let Catalyst prune every column the
count does not need). An entry's figures are those of its fastest of REPS
runs: wall seconds, the CPU seconds of this bench's processes and the
number of Spark jobs. bench_detail.json holds the full record.

The timed body runs in a session of its own (bench.py starts itself again
with start_new_session, as perfbench/run.py starts its worker), because
perfbench.worker.session_cpu_s counts every process of the caller's
session: the CPU figure then covers only this bench's JVM, its driver and
its Python workers.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_data_lake_spark.core.session import get_spark
from hadoop_data_lake_spark.queries.events_queries import (
    events_partitioned_range,
    materialize_events_by_date,
)
from hadoop_data_lake_spark.queries.registry import REGISTRY

# perfbench/worker.py puts its own directory first on sys.path; take it out
# again so its modules (its tests/ package too) shadow none of the repo's.
_path = sys.path[:]
from perfbench.worker import session_cpu_s  # noqa: E402

sys.path[:] = _path

#: Runs per timed entry; an entry reports its fastest run.
REPS = 3
#: Readers of the bench's stdout parse its last line from a ~2000-char
#: tail window.
LINE_MAX = 1950

#: The frozen headline: `headline_frozen_total` (this set plus
#: events_partitioned_range) is the round-over-round number, and the set
#: does not grow. Other timed queries go in HEADLINE_EXTRAS.
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
    "span_dedup_corpus",
    "winnow_fingerprints",
    "ann_lsh_det",
    "incremental_orders_agg",
    "curriculum_order",
    "perplexity_filter",
    "stream_windowed_counts",
    "stream_session_stats",
    "pagerank_det",
    "semdedup_prune",
    "er_golden_record",
    "bm25_retrieval",
]

HEADLINE_EXTRAS = [
    "ann_pq_det",
    "concurrent_sessions",
    "decontaminate_minhash_cross",
    "session_pattern_match",
    "rolling_zscore_anomaly",
    "hilbert_code_orders",
    "geohash_cell_counts",
    "ivm_join_delta",
    "hll_det_daily_users",
    "kmv_distinct_users",
    "cms_token_counts",
    "bloom_semijoin_orders",
    "doc_lm_kneser_ney",
    "target_encode_event_type",
    "textrank_keywords",
    "media_phash_near_dup",
    "cluster_safe_split_audit",
    "brand_communities_lpa",
    "event_lateness_profile",
    "value_psi_drift",
    "gini_customer_revenue",
    "exact_value_quantiles",
    "hits_hubs_authorities",
    "data_mix_waterfill",
    "shard_lpt_plan",
]


def _job_id_after(tracker, j: int) -> int:
    """The first id at or above `j` of a job Spark has not started. Job ids
    are dense, so the ids between two readings are exactly the jobs started
    in between, whatever thread or job group ran them."""
    while tracker.getJobInfo(j) is not None:
        j += 1
    return j


def time_full(spark, name: str, build, reps: int = REPS) -> dict:
    """{"s", "cpu_s", "jobs"} of the fastest of `reps` runs of `build()`
    plus a noop write of its whole result. `jobs` counts every job started
    during the run, a stream replay's micro-batches included (they run on
    the query's own thread under its run-id group); each run is also its
    own Spark job group, `bench|<name>|<rep>`."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # the newest job without a group is still retained; walk up from it
    first = _job_id_after(tracker, max(tracker.getJobIdsForGroup(None), default=-1) + 1)
    best = None
    for rep in range(reps):
        sc.setLocalProperty("spark.jobGroup.id", f"bench|{name}|{rep}")
        try:
            c, t = session_cpu_s(), time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            s, cpu = time.perf_counter() - t, session_cpu_s() - c
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        last = _job_id_after(tracker, first)
        rec = {"s": round(s, 3), "cpu_s": round(cpu, 3), "jobs": last - first}
        first = last
        if best is None or rec["s"] < best["s"]:
            best = rec
    print(f"# {name}: {best['s']:.3f}s cpu {best['cpu_s']:.3f}s "
          f"{best['jobs']} jobs", file=sys.stderr)
    return best


# --------------------------------------------------------------------------
# Scale-shape tier: time the dedup/ANN/graph/event family on 1x, 3x and 10x
# synthetic slices of a corpus and report the runtime ratios. These
# operators' 100 TB viability rests on near-linear candidate generation
# (banded/bucketed indexes, hot-key caps); a quadratic escape is invisible
# at one size but shows up here as ratios that grow with the multiplier.
# --------------------------------------------------------------------------

SCALE_MULTS = (1, 3, 10)
SCALE_BASE_ENV = "SPARK_GRAFT_SCALE_BASE"  # default: sf0.01 (keeps tier <1min)


def _scaled_docs(spark, base_dir: str, mult: int):
    """documents corpus replicated `mult`x with fresh ids and a per-copy
    positional token mask: in copy r, every token at position p with
    (p + r) % 3 != 0 gets a '_r' suffix. Within one copy the mask is
    shared, so base-corpus near-dup pairs survive per copy (pair count
    grows LINEARLY with mult); across copies no 3-token shingle survives
    intact, so copies of the same doc are NOT near-dups of each other and
    the true pair set stays linear in mult. Shingle statistics stay
    realistic (universe grows, hot shingles persist in the unmasked
    third). localCheckpoint so the timed region measures the operator,
    not corpus synthesis."""
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
    are per-round linear in edges, so their ratios should track the
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


def _graph_scale_ops(edges):
    """Iteration-heavy graph family: fixed-round PageRank / LPA / k-core
    peeling — the per-round localCheckpoint shape whose scaling the
    single-size bench cannot see."""
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


def _scale_ops(docs, emb, mult):
    """name -> builder of the operator frame. All run with their SCALE
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
        # exact assignment is n * k cosines, itself quadratic at k ~ n;
        # bucketed assignment scores a constant number of candidate
        # centroids per point. This IS the documented 100 TB configuration.
        "semdedup_prune": lambda: SIM.semdedup_prune(
            emb, num_clusters=16 * mult, threshold=0.95, assign="srp"
        ),
        "phash_near_dup": lambda: MM.phash_near_dup_pairs(
            MM.perceptual_hash(MM.synth_media_from_text(docs, "doc_id", "text")),
            max_hamming=3,
        ),
    }


def _event_scale_ops(ev):
    """Shuffle-heavy event operators for the scale tier: sessionization
    (window shuffle on user), the as-of join (union + running last) and
    the two-phase prefix aggregate (global rank + running max) that
    replaced every Window.orderBy global sort."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.operators.asof import asof_join
    from hadoop_data_lake_spark.operators.packing import prefix_agg
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
    return {
        "sessionize_events": lambda: sessionize(
            ev, ["user_id"], "ts", gap_seconds=1800
        ),
        "asof_purchase_click": lambda: asof_join(
            purchases, clicks, on="user_id",
            left_ts="purchase_ts_us", right_ts="click_ts_us",
        ),
        "prefix_agg_events": lambda: prefix_agg(
            ev.withColumn("__one", F.lit(1)),
            ["ts", "event_id"],
            sum_cols={"rk": "__one"},
            max_cols={"vmax": "value"},
        ).groupBy().agg(F.max("rk"), F.max("vmax")),
    }


def run_scale_tier(spark, base_dir: str) -> dict:
    """{op: {"t1x", "t3x", "t10x", "ratio" (t10x/t1x), "ratio3" (t3x/t1x)}}.

    The driver tiers are pinned OFF here: this tier's whole purpose is the
    DISTRIBUTED loops' scaling shape, and the bounded driver tier would
    intercept the small scaled graphs and splice a Python-loop regime into
    the curve."""
    from hadoop_data_lake_spark.core import driver_tier as DT

    orig_tier = DT.GENERAL_DRIVER_TIER_ENABLED
    DT.GENERAL_DRIVER_TIER_ENABLED = False
    try:
        return _run_scale_tier_inner(spark, base_dir)
    finally:
        # the caller's value, not a hardcoded True: an exception mid-tier
        # must not leave the tier disabled for the rest of the process,
        # and a caller that disabled it deliberately keeps it disabled
        DT.GENERAL_DRIVER_TIER_ENABLED = orig_tier


def _run_scale_tier_inner(spark, base_dir: str) -> dict:
    out: dict[str, dict] = {}
    for mult in SCALE_MULTS:
        docs, emb = _scaled_docs(spark, base_dir, mult), _scaled_embeddings(spark, base_dir, mult)
        ops = {
            **_scale_ops(docs, emb, mult),
            **_event_scale_ops(_scaled_events(spark, base_dir, mult)),
            **_graph_scale_ops(_scaled_edges(spark, base_dir, mult)),
        }
        for name, build in ops.items():
            rec = time_full(spark, f"scale {name} {mult}x", build)
            out.setdefault(name, {})[f"t{mult}x"] = rec["s"]
    for d in out.values():
        if d["t1x"] > 0:
            d["ratio"] = round(d["t10x"] / d["t1x"], 2)
            d["ratio3"] = round(d["t3x"] / d["t1x"], 2)
    return out


def _partitioned_events_root(sf_dir: str) -> str:
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return f"/tmp/spark_graft_bench/events_by_date_{sf_tag}"


def headline_entries(spark, sf_dir: str) -> dict:
    """name -> builder for every headline entry on the corpus at `sf_dir`.
    Writes the date-partitioned events dataset that the last entry, a
    partition-pruned week scan, reads: one-time scaffolding, not timed."""
    root = _partitioned_events_root(sf_dir)
    materialize_events_by_date(spark, sf_dir, root)
    out = {
        name: (lambda name=name: REGISTRY[name].fn(spark, sf_dir))
        for name in HEADLINE_FROZEN + HEADLINE_EXTRAS
    }
    out["events_partitioned_range"] = lambda: events_partitioned_range(spark, root)
    return out


def compact_line(payload: dict) -> str:
    """The stdout line: the headline fields and the per-query map, with
    decimals shed from the map (2 -> 1 -> 0) until it fits LINE_MAX."""
    compact = {k: payload[k] for k in ("metric", "value", "unit", "headline_frozen_total")}
    compact |= {"n_queries": len(payload["queries"]), "sf": payload["sf"]}
    for digits in (2, 1, 0):
        compact["queries"] = {
            n: round(t, digits) if digits else round(t)
            for n, t in payload["queries"].items()
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= LINE_MAX:
            break
    return line


def run() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    # Warm-up at a smaller SF: every headline entry once, so codegen
    # compilation + C2 JIT of the generated kernels (md5 hashing, HOF eval,
    # pandas-UDF runner, shuffle machinery) is paid before timing starts;
    # sf0.01 gives C2 enough row volume to compile the hot loops.
    warm_dir = "/root/testdata/sf0.01"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name, build in headline_entries(spark, warm_dir).items():
            try:
                time_full(spark, f"warmup {name}", build, reps=1)
            except Exception as exc:  # never let warmup sink the bench
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    results = {
        name: time_full(spark, name, build)
        for name, build in headline_entries(spark, sf_dir).items()
    }
    scale_base = os.environ.get(SCALE_BASE_ENV, "/root/testdata/sf0.01")
    scale_check = run_scale_tier(spark, scale_base) if os.path.isdir(scale_base) else {}

    timings = {n: r["s"] for n, r in results.items()}
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "headline_frozen_total": round(
            sum(timings[n] for n in HEADLINE_FROZEN)
            + timings["events_partitioned_range"],
            3,
        ),
        "headline_frozen": HEADLINE_FROZEN + ["events_partitioned_range"],
        "queries": timings,
        "cpu_s": {n: r["cpu_s"] for n, r in results.items()},
        "jobs": {n: r["jobs"] for n, r in results.items()},
        "reps": REPS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "scale_check": {"mults": list(SCALE_MULTS), "base": scale_base, "ops": scale_check},
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_detail.json")
    with open(detail_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(f"# full per-query detail -> {detail_path}", file=sys.stderr)
    print(compact_line(payload))


def main() -> int:
    if os.getsid(0) == os.getpid():
        run()
        return 0
    # Not a session leader: start again in a session of our own (see the
    # module docstring), stdout passed through, and take the whole
    # session down with us if we are stopped first.
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__)], start_new_session=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return child.wait()
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)


if __name__ == "__main__":
    sys.exit(main())
