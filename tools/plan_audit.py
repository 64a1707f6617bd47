"""Registry-wide physical-plan hygiene audit.

Plans (and where construction demands it, partially executes) every
registry query at sf0.001 and scans the executed plan string for the
anti-patterns that kill 100 TB jobs:

  * CartesianProduct           — unbounded pair blowup
  * BatchEvalPython            — row-at-a-time Python in the data path
  * GLOBAL-WINDOW / GLOBAL-SORT — an `Exchange SinglePartition` feeding a
                                 Sort/Window (every row through ONE task)
                                 whose input subtree is NOT already an
                                 aggregate or limit-bounded frame. A global
                                 window over a HashAggregate (dimension-
                                 bounded rollup) or under a TakeOrdered/
                                 GlobalLimit is exempt; one over a raw fact
                                 scan is the classic cumsum scale-killer
                                 (VERDICT r4 item 3 — the blind spot that
                                 let three raw-fact window queries through).
  * SORT-NO-LIMIT              — a `Sort [...], true` (global range sort)
                                 with no limit and a non-aggregated child:
                                 parallel, but an avoidable full shuffle+
                                 sort of fact data.
  * UNBOUNDED-FOLLOWING        — a window frame from a bounded start
                                 (e.g. currentRow) to unboundedFollowing:
                                 Spark recomputes it for every row, O(n^2)
                                 per partition key. The cure is the mirror
                                 running frame: reverse the sort and take
                                 last(ignoreNulls) over unboundedPreceding..
                                 currentRow (operators/asof.py). Whole-
                                 partition frames (unboundedPreceding..
                                 unboundedFollowing) are one pass and pass.
  * BroadcastNestedLoopJoin    — reported as INFO, not failure: every
                                 occurrence in this codebase is an explicit
                                 crossJoin(F.broadcast(tiny)) — scalar
                                 cutoff/bounds/marginal frames, centroid
                                 sets, probe sets — and a BNLJ whose build
                                 side is a broadcast single-row aggregate
                                 is the CORRECT plan for those. A new BNLJ
                                 appearing on a large build side would
                                 surface here for review.

Writes PLAN_AUDIT.md (one row per query with flags + node histogram
summary) and exits non-zero if any un-whitelisted red flag appears —
usable as a CI gate.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
import time

sys.path.insert(0, ".")

from hadoop_data_lake_spark.core.session import get_spark
from hadoop_data_lake_spark.queries.registry import REGISTRY

RED = ("CartesianProduct", "BatchEvalPython")

#: Fact tables whose repeated scanning is the quiet 100 TB killer: the
#: r9 scan-multiplicity audit found queries re-executing their raw fact
#: scan 6-20x because alias-differing subtrees re-run their upstream
#: (value_psi_drift 12x events, minhash_eval_pr 20x documents, ...).
#: Dimensions (region/nation/customer/supplier/part) are exempt — they
#: are broadcast-sized by design.
FACT_TABLES = ("events", "orders", "lineitem", "documents", "embeddings")
FACT_RESCAN_THRESHOLD = 4
#: Documented exemptions — each with a stated reason, not a blanket:
#: EMPTY since round 10: every query in the registry passes the
#: FACT-RESCAN check on its own plan. History — the r9-era control-freeze
#: exemptions (zone_report, embedding_near_dup, dedup_minhash_lsh,
#: decontaminate_minhash_cross) and the multi-layer decontamination_report
#: fell at the r10 control re-baseline (the shared operators checkpoint
#: their index frames: operators/dedup.minhash_lsh_pairs inverted index,
#: operators/similarity.cosine_near_dup_pairs band index,
#: pipelines/zone_report grain aggregates — all <= 2 visible fact scans;
#: old-plan record = BENCH_r09.json);
#: the two snapshot simulations (incremental_orders_agg, ivm_join_delta)
#: followed the same round by checkpointing the single projected base
#: their simulated old/new snapshots derive from (a real deployment reads
#: two physical snapshot tables once each — the checkpoint mirrors that).
#: The set stays so a future, genuinely justified exemption has a named,
#: reviewed place to live rather than a threshold bump.
FACT_RESCAN_ALLOW: set[str] = set()

_AGG = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_BOUNDED = _AGG + ("GlobalLimit", "CollectLimit", "TakeOrderedAndProject", "LocalLimit")


def fact_rescans(plan: str) -> dict[str, int]:
    """Per-fact-table FileScan counts in the executed plan (checkpointed
    subtrees already materialized their single pass and show no scan)."""
    from collections import Counter

    c: Counter = Counter()
    for line in plan.splitlines():
        if "FileScan" in line:
            c.update(re.findall(r"(\w+)\.parquet", line))
    return {t: n for t, n in c.items() if t in FACT_TABLES and n >= 2}


def _depth(line: str) -> int:
    """Tree depth from the ASCII-art prefix (3 chars per level)."""
    m = re.match(r"^[\s:+\-]*", line)
    return m.end() // 3


def scan_single_partition_funnels(plan: str) -> list[str]:
    """Flags for Exchange SinglePartition nodes that funnel unaggregated,
    unbounded data into one task (global Window/Sort), plus global range
    sorts without a limit over non-aggregated children."""
    lines = plan.splitlines()
    depths = [_depth(l) for l in lines]
    flags: list[str] = []

    def subtree_below(i: int) -> list[str]:
        d = depths[i]
        out = []
        for j in range(i + 1, len(lines)):
            if depths[j] <= d:
                break
            out.append(lines[j])
        return out

    def nearest_ancestors(i: int, k: int = 3) -> list[str]:
        d = depths[i]
        out = []
        for j in range(i - 1, -1, -1):
            if depths[j] < d:
                out.append(lines[j])
                d = depths[j]
                if len(out) >= k:
                    break
        return out

    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            anc = nearest_ancestors(i)
            anc_txt = " ".join(anc)
            # single-row/global aggregates and limits legitimately
            # single-partition: tiny row counts flow through.
            if any(a in anc_txt for a in _BOUNDED) and not (
                "Window" in anc_txt or re.search(r"\bSort \[", anc_txt)
            ):
                continue
            if "Window" in anc_txt or re.search(r"\bSort \[", anc_txt):
                below = " ".join(subtree_below(i))
                if not any(b in below for b in _BOUNDED):
                    kind = "GLOBAL-WINDOW" if "Window" in anc_txt else "GLOBAL-SORT"
                    flags.append(kind)
        elif re.search(r"\bSort \[[^\]]*\], true", line):
            anc_txt = " ".join(nearest_ancestors(i))
            if any(a in anc_txt for a in ("GlobalLimit", "CollectLimit", "TakeOrderedAndProject")):
                continue
            below = " ".join(subtree_below(i))
            if not any(b in below for b in _BOUNDED):
                flags.append("SORT-NO-LIMIT")
    return sorted(set(flags))


_FOLLOWING_FRAME = re.compile(
    r"specifiedwindowframe\((?:RowFrame|RangeFrame), (?!unboundedpreceding)[^,]+, unboundedfollowing",
    re.IGNORECASE,
)


def unbounded_following_frames(plan: str) -> list[str]:
    """["UNBOUNDED-FOLLOWING"] when a window frame runs from a bounded start
    to unboundedFollowing (recomputed per row), else []."""
    return ["UNBOUNDED-FOLLOWING"] if _FOLLOWING_FRAME.search(plan) else []


def main(sf_dir: str) -> int:
    spark = get_spark("plan_audit")
    rows = []
    failures = 0
    for name, spec in REGISTRY.items():
        t0 = time.time()
        try:
            plan = (
                spec.fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # pragma: no cover - audit robustness
            rows.append((name, f"PLAN-ERROR: {type(exc).__name__}", 0.0))
            failures += 1
            continue
        flags = [m for m in RED if m in plan]
        flags += scan_single_partition_funnels(plan)
        flags += unbounded_following_frames(plan)
        rescans = fact_rescans(plan)
        heavy = {t: n for t, n in rescans.items() if n >= FACT_RESCAN_THRESHOLD}
        if heavy and name not in FACT_RESCAN_ALLOW:
            flags.append(
                "FACT-RESCAN:" + ",".join(f"{t}x{n}" for t, n in sorted(heavy.items()))
            )
        if flags:
            failures += 1
        info_parts = []
        if "BroadcastNestedLoopJoin" in plan:
            info_parts.append("bnlj-broadcast")
        light = {t: n for t, n in rescans.items() if n < FACT_RESCAN_THRESHOLD}
        if light:
            info_parts.append(
                "rescan:" + ",".join(f"{t}x{n}" for t, n in sorted(light.items()))
            )
        info = " ".join(info_parts)
        verdict = ",".join(flags) if flags else (f"clean ({info})" if info else "clean")
        rows.append((name, verdict, time.time() - t0))
        print(f"{name}: {rows[-1][1]} ({rows[-1][2]:.1f}s)", file=sys.stderr)

    with open("PLAN_AUDIT.md", "w", encoding="utf-8") as fh:
        fh.write(
            "# PLAN_AUDIT — registry-wide physical-plan hygiene\n\n"
            f"{len(rows)} queries planned at `{sf_dir}`; hard red flags: "
            "CartesianProduct, BatchEvalPython (row-at-a-time Python), "
            "GLOBAL-WINDOW / GLOBAL-SORT (an Exchange SinglePartition "
            "funneling a non-aggregated, non-limited frame into one task "
            "— the cumsum scale-killer), SORT-NO-LIMIT (global range "
            "sort of unaggregated data with no limit), and UNBOUNDED-FOLLOWING "
            "(a window frame from a bounded start to unboundedFollowing, "
            "recomputed per row — O(n^2) per key). Windows/sorts over "
            "aggregate or limit-bounded frames are exempt: their inputs "
            "are dimension-bounded. FACT-RESCAN flags a fact table "
            f"(events/orders/lineitem/documents/embeddings) scanned >= "
            f"{FACT_RESCAN_THRESHOLD}x in one plan — alias-differing "
            "subtrees re-executing their upstream, the quiet 100 TB "
            "killer the r9 audit closed (aggregate-first + checkpoint "
            "the bounded frame); documented multi-layer reports are "
            "allow-listed. `bnlj-broadcast` marks the deliberate "
            "crossJoin(F.broadcast(tiny)) pattern (scalar stats frames, "
            "centroid/probe sets) — the correct plan for those shapes, "
            "listed so any NEW nested-loop join gets reviewed; "
            "`rescan:` notes 2-3x fact scans below the flag bar.\n\n"
            "| query | verdict |\n|---|---|\n"
        )
        for name, verdict, _dt in rows:
            fh.write(f"| {name} | {verdict} |\n")
        n_clean = sum(1 for _, v, _ in rows if v.startswith("clean"))
        n_bnlj = sum(1 for _, v, _ in rows if "bnlj" in v)
        fh.write(
            f"\n**{n_clean}/{len(rows)} clean ({n_bnlj} of them the "
            f"deliberate broadcast-nested-loop shape); "
            f"{failures} queries with hard red flags.**\n"
        )
    print(f"PLAN_AUDIT.md written; {failures} flagged")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"))
