"""bench.py: the one timing function, the stdout line and the scale tier's
driver-tier pin."""

import json

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

import bench


def test_every_entry_is_timed_more_than_once():
    """A single run samples JIT and co-tenant noise; every entry, streams
    included, takes the best of REPS runs."""
    assert bench.REPS >= 2


def test_time_full_computes_the_whole_result(spark):
    """`count()` would prune the raising column and return 5; the full
    result must evaluate it."""
    with pytest.raises(Exception, match="bench-full-result"):
        bench.time_full(
            spark,
            "raise",
            lambda: spark.range(5).select(
                "id", F.raise_error(F.lit("bench-full-result")).alias("boom")
            ),
            reps=1,
        )


def test_time_full_reports_jobs_and_cpu(spark):
    def build():
        return spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count()

    build().write.format("noop").mode("overwrite").save()  # warm
    _, jobs = count_jobs(
        spark, lambda: build().write.format("noop").mode("overwrite").save()
    )
    rec = bench.time_full(spark, "groupby", build, reps=2)
    assert set(rec) == {"s", "cpu_s", "jobs"}
    assert jobs >= 1 and rec["jobs"] == jobs
    assert rec["cpu_s"] >= 0 and rec["s"] > 0


def test_compact_line_sheds_decimals_not_the_map():
    names = bench.HEADLINE_FROZEN + bench.HEADLINE_EXTRAS + ["events_partitioned_range"]
    assert len(names) == 65
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": 80246.123,
        "unit": "sec",
        "headline_frozen_total": 49382.123,
        "sf": 0.1,
        "queries": {n: 1234.567 for n in names},
    }
    line = bench.compact_line(payload)
    assert len(line) <= bench.LINE_MAX
    parsed = json.loads(line)
    assert parsed["n_queries"] == 65
    assert parsed["queries"] == {n: 1235 for n in names}
    # everyday values keep two decimals
    payload["queries"] = {n: 1.234 for n in names}
    assert json.loads(bench.compact_line(payload))["queries"]["zone_report"] == 1.23


@pytest.mark.parametrize("orig_value", [True, False])
def test_run_scale_tier_restores_flag_on_exception(monkeypatch, tiers, orig_value):
    """An exception mid-scale-tier must not leave the driver tier disabled
    process-wide, and the restore must honor a caller that had
    deliberately disabled it."""
    import hadoop_data_lake_spark.core.driver_tier as DT

    def boom(spark, base_dir):
        assert DT.GENERAL_DRIVER_TIER_ENABLED is False  # pinned inside
        raise RuntimeError("mid-tier failure")

    monkeypatch.setattr(bench, "_run_scale_tier_inner", boom)
    tiers(orig_value)
    with pytest.raises(RuntimeError):
        bench.run_scale_tier(None, "/nonexistent")
    assert DT.GENERAL_DRIVER_TIER_ENABLED is orig_value
