"""Registry-wide degenerate-input sweep: run every query against corpora
engineered to zero the denominators closed-form statistics divide by.

Round-8 origin: the zero-signal changepoint property test exposed an ANSI
DIVIDE_BY_ZERO crash; hunting the class systematically found 24 more
(ks/fano/anova/..., kendall/mann-whitney/jackknife/ols/..., price-CV/
AUC/hill/mmd/elasticity/silhouette). Every one is now nullif-guarded with
the guard mirrored in its oracle — this tool keeps the class CLOSED as
queries are added.

Corpora:
  events-based (5): ZERO events (r9 axis — NULL spans, empty window
    partitions, aggregates over nothing); a single event; one day with
    two types; thirty identical values. Exercises empty hash variants/
    samples/arms/periods, single time bins, single groups/folds, and
    zero variance; thirty all-NULL values (r9 axis — NULL-heavy slices).
  table-based (3, derived from sf0.001 so every schema contract holds):
    single-row facts (orders LIMIT 1 + its lines, 1 event/doc/embedding);
    constant values (flat prices/discounts, identical documents and
    embeddings); EMPTY facts (r9 axis — all five fact tables zero-row
    with their real schemas, dimensions populated). Exercises one-class
    AUCs, single-source MMD, one-point regression ladders, flat top-k
    tails, identical-point geometry, and zero-row sketch states.

All fixtures are written in the driver's SINGLE-FILE table layout
(one part file moved to <table>.parquet), so footer-reading queries
(zonemap_integrity_audit) and DuckDB's direct-path views both work.
They live under one temporary root that `main()` removes when it ends.

Usage: python tools/degenerate_sweep.py [--events-only] [query ...]
Exit 1 if any query raises. ~15 min for the full registry.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_lake_spark.core.io import TABLES
from hadoop_data_lake_spark.core.session import get_spark
from hadoop_data_lake_spark.queries.registry import REGISTRY
from hadoop_data_lake_spark.queries.sweep_variants import SCALED_SWEEP_VARIANTS

#: Registry plus the scaled sweep twins (r14): the variants run the same
#: operators with coarser spine/block parameters at bench scale — their
#: parameter paths stay inside the div-by-zero closure too.
LOOKUP = dict(REGISTRY)
LOOKUP.update({f"{n} [scaled]": s for n, s in SCALED_SWEEP_VARIANTS.items()})

SRC = os.environ.get("SPARK_GRAFT_DEGEN_BASE", "/root/testdata/sf0.001")

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
EPOCH = dt.datetime(2024, 1, 1)

SKIP: set[str] = set()


def _write_single_file(spark, df, dest: str) -> None:
    """Write `df` as ONE parquet FILE at `dest` — the driver's table layout
    (a Spark directory breaks DuckDB's direct-path view in check_oracle,
    and single files are what the zonemap footer audit contracts on)."""
    import glob

    tmp = tempfile.mkdtemp(prefix="degen_part_", dir=os.path.dirname(dest))
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dest)
    shutil.rmtree(tmp, ignore_errors=True)


def _events_cases(spark, root: str) -> dict[str, str]:
    cases = {
        # zero rows, full schema: a legal slice at 100 TB (an empty day
        # partition / a filter that matched nothing). Exercises NULL
        # min/max spans (sequence(NULL, NULL)), empty window partitions,
        # and global aggregates over nothing (round-9 axis).
        "empty_events": [],
        "one_event": [(1, EPOCH, 1, "purchase", 5.0, "{}")],
        "one_day_two_types": [
            (1, EPOCH, 1, "purchase", 5.0, "{}"),
            (2, EPOCH + dt.timedelta(hours=1), 2, "view", 3.0, "{}"),
        ],
        "all_same_value": [
            (i, EPOCH + dt.timedelta(hours=i), i % 3, "click", 7.0, "{}")
            for i in range(30)
        ],
        # every value NULL (r9 axis): value is nullable and NULL-heavy
        # slices are routine — exercises round(NULL) cents, sums that
        # skip every row, and NULL-key windows
        "all_null_value": [
            (
                i,
                EPOCH + dt.timedelta(hours=i),
                i % 3,
                ["click", "purchase", "view"][i % 3],
                None,
                "{}",
            )
            for i in range(30)
        ],
    }
    out = {}
    for name, rows in cases.items():
        d = tempfile.mkdtemp(prefix=f"degen_{name}_", dir=root)
        _write_single_file(
            spark, spark.createDataFrame(rows, EVENTS_SCHEMA), f"{d}/events.parquet"
        )
        out[name] = d
    return out


def _base_dir(root: str) -> str:
    d = tempfile.mkdtemp(prefix="degen_tables_", dir=root)
    for t in TABLES:
        os.symlink(f"{SRC}/{t}.parquet", f"{d}/{t}.parquet")
    return d


def _replace(spark, d: str, t: str, df) -> None:
    os.remove(f"{d}/{t}.parquet")
    _write_single_file(spark, df, f"{d}/{t}.parquet")


def _table_cases(spark, root: str) -> dict[str, str]:
    d1 = _base_dir(root)
    orders1 = spark.read.parquet(f"{SRC}/orders.parquet").limit(1).localCheckpoint(True)
    okey = orders1.collect()[0]["o_orderkey"]
    _replace(spark, d1, "orders", orders1)
    _replace(
        spark, d1, "lineitem",
        spark.read.parquet(f"{SRC}/lineitem.parquet").where(F.col("l_orderkey") == okey),
    )
    for t in ("events", "documents", "embeddings"):
        _replace(spark, d1, t, spark.read.parquet(f"{SRC}/{t}.parquet").limit(1))

    d2 = _base_dir(root)
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    _replace(
        spark, d2, "lineitem",
        li.withColumn("l_extendedprice", F.lit(100.0))
        .withColumn("l_discount", F.lit(0.0))
        .withColumn("l_tax", F.lit(0.0))
        .withColumn("l_quantity", F.lit(1.0)),
    )
    _replace(
        spark, d2, "orders",
        spark.read.parquet(f"{SRC}/orders.parquet").withColumn(
            "o_totalprice", F.lit(100.0)
        ),
    )
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    text0 = docs.limit(1).collect()[0]["text"]
    _replace(
        spark, d2, "documents",
        docs.withColumn("text", F.lit(text0)).withColumn(
            "n_chars", F.length(F.lit(text0)).cast("long")
        ),
    )
    # empty facts (r9 axis): every fact table zero-row with its real
    # schema (limit 0 preserves it), dimensions populated — a legal
    # corpus slice (an empty day partition / a filter matching nothing).
    # Exercises NULL min/max spans, empty window partitions, global
    # aggregates over nothing and zero-row sketch states.
    d3 = _base_dir(root)
    for t in ("orders", "lineitem", "events", "documents", "embeddings"):
        _replace(spark, d3, t, spark.read.parquet(f"{SRC}/{t}.parquet").limit(0))

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    vec0 = emb.limit(1).collect()[0]["embedding"]
    _replace(
        spark, d2, "embeddings",
        emb.withColumn(
            "embedding", F.array(*[F.lit(float(x)).cast("float") for x in vec0])
        ),
    )
    _replace(
        spark, d2, "events",
        spark.read.parquet(f"{SRC}/events.parquet").withColumn("value", F.lit(7.0)),
    )
    return {"one_row_facts": d1, "constant_values": d2, "empty_facts": d3}


def _plan_probe(spark, sf_dir: str, targets: list[str]) -> int:
    """Fact-rescan check over a DEGENERATE corpus (VERDICT r9 item 6): the
    r9 empty-corpus guards added driver-side n==0 branches around eagerly
    checkpointed frames — checkpoints built BEFORE the guard execute even
    when downstream is empty, so a guard placed wrong can quietly
    reintroduce multi-scan plans that only exist on the degenerate path
    (the sf0.001 audit never sees them). Builds every target's plan on
    `sf_dir` and applies the same FACT-RESCAN >= threshold rule as
    tools/plan_audit.py."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from plan_audit import FACT_RESCAN_ALLOW, FACT_RESCAN_THRESHOLD, fact_rescans

    bad = 0
    for q in targets:
        try:
            plan = (
                LOOKUP[q].fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception:
            continue  # crashes are the crash sweep's job, not the plan probe's
        heavy = {
            t: n
            for t, n in fact_rescans(plan).items()
            if n >= FACT_RESCAN_THRESHOLD
        }
        if heavy and q not in FACT_RESCAN_ALLOW:
            bad += 1
            print(f"PLAN-REGRESSION {q}: " + ",".join(f"{t}x{n}" for t, n in sorted(heavy.items())))
    print(f"degenerate plan probe: {bad} fact-rescan regressions over {len(targets)} queries")
    return bad


def build_cases(spark, events_only: bool, plans_mode: bool, root: str):
    """Corpus map + the subset that is events-only (missing-table skips),
    every corpus a directory under `root`.

    The plan probe runs on the empty_facts corpus, which lives in the
    TABLE-derived set — so plans mode builds the table cases even under
    --events-only (driver-ADVICE r10: the combination used to KeyError).
    """
    cases = _events_cases(spark, root)
    events_cases = frozenset(cases)
    if not events_only or plans_mode:
        cases.update(_table_cases(spark, root))
    return cases, events_cases


def main() -> int:
    events_only = "--events-only" in sys.argv
    plans_mode = "--plans" in sys.argv
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    spark = get_spark("degenerate_sweep")
    targets = names or [n for n in LOOKUP if n not in SKIP]
    root = tempfile.mkdtemp(prefix="degen_")
    try:
        return _sweep(spark, targets, events_only, plans_mode, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _sweep(spark, targets: list[str], events_only: bool, plans_mode: bool, root: str) -> int:
    cases, events_cases = build_cases(spark, events_only, plans_mode, root)

    if plans_mode:
        # plan probe runs on the empty-facts corpus only: that is where a
        # misplaced empty-guard changes plan shape; the value semantics of
        # the other corpora are the crash sweep's domain.
        return 1 if _plan_probe(spark, cases["empty_facts"], targets) else 0

    crashes = 0
    for cname, d in cases.items():
        # EVERY query runs against EVERY corpus (driver-ADVICE r8: the old
        # defining-module filter meant NS/TQ queries that read only the
        # events table were never exercised against the single-event /
        # one-day / zero-variance shapes). Selection is by what a query
        # actually reads: on the events-only corpora a query that also
        # reads orders/lineitem/... fails fast at scan with
        # PATH_NOT_FOUND and is skipped — the table-derived corpora carry
        # every table, so there a missing file is a GENUINE regression
        # and counts as a crash (driver-ADVICE r8 item 1).
        for q in targets:
            try:
                LOOKUP[q].fn(spark, d).collect()
            except Exception as exc:
                full = str(exc)
                # match the skip on the WHOLE message — a missing file
                # inside a Python worker (mapInPandas footer reads)
                # surfaces as a PythonException whose first line is blank
                head = next((l for l in full.splitlines() if l.strip()), "")[:120]
                if cname in events_cases and (
                    "PATH_NOT_FOUND" in full or "No such file" in full
                ):
                    continue
                crashes += 1
                print(f"CRASH {cname} {q}: {head}")
    print(f"degenerate sweep: {crashes} crashes over {len(cases)} corpora")
    return 1 if crashes else 0


if __name__ == "__main__":
    raise SystemExit(main())
