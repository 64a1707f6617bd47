"""Record each query's `count()` time next to its full-result time.

    python3 perfbench/count_vs_full.py [--seed N] [--out perfbench/count_vs_full.json]

`count()` lets Catalyst prune every column the count does not need, so it
can hide most of a query's cost; `df.write.format("noop")` computes the
whole result. For every query of the three sets below (analytics, geo and
curation operators; wider than the timed workloads), on one input made by
`gen.py` (the reference tables at sf 0.01, shuffled and re-keyed), this
times a warm-up full run and a warm-up `count()`, then `count()` and the
full run again, each on a freshly built frame, and writes the table as
JSON. It is a one-off record, not part of the timed benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from gen import generate  # noqa: E402
from run import engine_env  # noqa: E402
from workloads import PRETRAIN  # noqa: E402

QUERIES = {
    "analytics": (
        "q1_pricing_summary q3_order_revenue q5_nation_revenue q9_product_profit "
        "q10_returned_item_revenue q18_large_volume_customers q21_waiting_suppliers "
        "user_sessions purchase_attribution_asof top_orders_per_customer "
        "scd2_event_type_history coactivity_triangles incremental_orders_agg "
        "stream_windowed_counts stream_session_stats pagerank_det exact_value_quantiles "
        "value_psi_drift concurrent_sessions rolling_zscore_anomaly ivm_join_delta "
        "hll_det_daily_users bloom_semijoin_orders cluster_safe_split_audit "
        "brand_communities_lpa hits_hubs_authorities event_lateness_profile "
        "session_pattern_match user_value_interpolate"
    ).split(),
    "geo": (
        "nearest_city user_latest_position user_local_time_coords user_event_history "
        "zone_report zone_conversion_funnel user_proximity_pairs geohash_cell_counts "
        "point_in_polygon_zones grid_density_clusters"
    ).split(),
    "curation": (
        f"{PRETRAIN} text_stats dedup_exact dedup_minhash_lsh dedup_clusters_minhash "
        "decontaminate_ngram_overlap decontaminate_minhash_cross span_dedup_corpus "
        "winnow_fingerprints perplexity_filter doc_lm_perplexity bm25_retrieval "
        "semdedup_prune ann_brute_force ann_ivf_kmeans ann_lsh_det embedding_near_dup "
        "media_phash_near_dup er_golden_record chunk_text_windows"
    ).split(),
}

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "count_vs_full.json"))
    args = ap.parse_args()
    work = os.path.abspath(os.path.join(".perfbench", f"count-vs-full-{os.getpid()}"))
    input_dir = os.path.join(work, "input")
    manifest = generate(input_dir, args.seed)
    os.environ.update(engine_env(work))
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)

    from hadoop_data_lake_spark.core.session import get_spark
    from worker import Step

    spark = get_spark("perfbench-count-vs-full")
    versions = {"spark": spark.version, "python": platform.python_version()}
    rows = []
    try:
        for group, names in QUERIES.items():
            for name in names:
                step = Step(spark, name, input_dir, None)
                step.sink(step.build())  # warm-up of both plans
                step.build().count()
                t = time.perf_counter()
                df = step.build()
                built = time.perf_counter() - t
                n = df.count()
                count_s = time.perf_counter() - t
                t = time.perf_counter()
                step.sink(step.build())
                full_s = time.perf_counter() - t
                rows.append({
                    "group": group, "query": name, "rows": n, "build_s": round(built, 3),
                    "count_s": round(count_s, 3), "full_s": round(full_s, 3),
                    "full_over_count": round(full_s / count_s, 2),
                })
                print(json.dumps(rows[-1]), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    record = {
        "what": "seconds per query: build + count() vs build + noop write of the full result",
        "seed": args.seed,
        "input_rows": {t: m["rows"] for t, m in manifest.items()},
        "cpus": len(os.sched_getaffinity(0)),
        "versions": versions,
        "queries": rows,
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
