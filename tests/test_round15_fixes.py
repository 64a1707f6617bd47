"""Round-15 regression pins: the five ADVICE r14 fixes.

1. hits_topk_sides_driver declines non-integral node columns instead of
   crashing in the numpy index encoding.
2. hits_hubs_authorities runs no Spark job for the fused tier when the
   driver tiers are pinned off (the gate declines before any count).
3. check_oracle rejects --scaled-variants at non-sf0.1 scales (exit 2).
4. round_gate's entry() smoke assertion is non-vacuous (> 0, not >= 0).
5. The fused-tier docstring names the real cap (edge count, not bytes).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from conftest import SF01_DIR, SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_hits_fused_declines_string_node_columns(spark):
    import hadoop_data_lake_spark.operators.graph as G

    e = spark.createDataFrame(
        [("u1", "v1"), ("u2", "v1")], "c string, s string"
    )
    assert G.hits_topk_sides_driver(e, "c", "s", n_edges_bound=2) is None


def test_hits_fused_declines_decimal_node_columns(spark):
    import hadoop_data_lake_spark.operators.graph as G
    from pyspark.sql import functions as F

    e = spark.createDataFrame([(1, 10), (2, 10)], "c long, s long").select(
        F.col("c").cast("decimal(10,0)").alias("c"),
        F.col("s").cast("decimal(10,0)").alias("s"),
    )
    assert G.hits_topk_sides_driver(e, "c", "s", n_edges_bound=2) is None


def test_hits_fused_still_runs_on_int_columns(spark):
    import hadoop_data_lake_spark.operators.graph as G

    e = spark.createDataFrame([(1, 10), (2, 10), (1, 10)], "c int, s int")
    out = G.hits_topk_sides_driver(e, "c", "s", n_edges_bound=3)
    assert out is not None and out.count() > 0


def test_hits_query_skips_tier_and_its_count_when_disabled(spark, monkeypatch, tiers):
    """With the tiers pinned off, the fused tier must decline without
    running a single Spark job (no bound count, no collect — ADVICE r14),
    and the distributed fallback must still answer."""
    import hadoop_data_lake_spark.operators.graph as G
    from hadoop_data_lake_spark.queries.tpch_queries import (
        hits_hubs_authorities,
    )

    sc = spark.sparkContext
    calls = []
    orig = G.hits_topk_sides_driver

    def spy(*a, **k):
        sc.setLocalProperty("spark.jobGroup.id", "hits-tier-off")
        try:
            out = orig(*a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        calls.append(out)
        return out

    tiers(False)
    monkeypatch.setattr(G, "hits_topk_sides_driver", spy)
    rows = hits_hubs_authorities(spark, SF_DIR).collect()
    assert len(rows) == 20
    assert calls == [None]
    assert sc.statusTracker().getJobIdsForGroup("hits-tier-off") == []


def test_check_oracle_rejects_scaled_variants_at_graded_scales():
    out = subprocess.run(
        [
            sys.executable,
            "tools/check_oracle.py",
            SF01_DIR,
            "--scaled-variants",
            "linkage_jaro_winkler",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 2, (out.returncode, out.stderr[-500:])
    assert "sf0.1-only" in out.stderr


def test_round_gate_smoke_assertion_non_vacuous():
    from tools import round_gate

    assert "len(rows) > 0" in round_gate._SMOKE_SNIPPET
    assert "len(rows) >= 0" not in round_gate._SMOKE_SNIPPET


def test_fused_docstring_names_the_edge_cap():
    import hadoop_data_lake_spark.operators.graph as G

    doc = G.hits_topk_sides_driver.__doc__
    assert "NUMPY_MAX_ROWS" in doc
    assert "byte cap and the exactness envelope" not in doc


# ---------------------------------------------------------------------------
# Streaming replay posture. The replay harness pins two session confs for
# the drain — spark.sql.shuffle.partitions (= streaming state-store
# partition count at query start) to min(REPLAY_STATE_PARTITIONS, the
# session's count), and the checkpoint file manager — and restores both
# afterwards; partition count must never change results.
# ---------------------------------------------------------------------------

_EVENTS = f"{SF_DIR}/events.parquet"
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


@pytest.fixture()
def session_confs(spark):
    """Session shuffle partitions set to 7, the checkpoint manager unset;
    the previous values come back at teardown."""
    prev = {k: spark.conf.get(k, None) for k in ("spark.sql.shuffle.partitions", _MANAGER_KEY)}
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.unset(_MANAGER_KEY)
    yield
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _confs_at_start(spark, monkeypatch):
    """Record the two pinned confs as every streaming query starts."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    seen = []
    real_start = DataStreamWriter.start

    def recording_start(self, *a, **kw):
        seen.append(
            (spark.conf.get("spark.sql.shuffle.partitions"), spark.conf.get(_MANAGER_KEY, None))
        )
        return real_start(self, *a, **kw)

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    return seen


def test_replay_restores_session_shuffle_conf(spark, session_confs, monkeypatch):
    from hadoop_data_lake_spark.streaming import ingest

    seen = _confs_at_start(spark, monkeypatch)
    out = ingest.run_batch_replay(spark, _EVENTS, window_seconds=3600)
    assert out.count() > 0
    assert seen == [("7", ingest.REPLAY_CHECKPOINT_MANAGER)]
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get(_MANAGER_KEY, None) is None

    # a session that sets its own manager and a larger count gets both back
    spark.conf.set("spark.sql.shuffle.partitions", "20")
    spark.conf.set(_MANAGER_KEY, _FILE_CONTEXT_MANAGER)
    assert ingest.run_batch_replay(spark, _EVENTS, window_seconds=3600).count() > 0
    assert seen[-1] == (str(ingest.REPLAY_STATE_PARTITIONS), ingest.REPLAY_CHECKPOINT_MANAGER)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "20"
    assert spark.conf.get(_MANAGER_KEY) == _FILE_CONTEXT_MANAGER


def test_replay_restores_conf_when_start_fails(spark, session_confs):
    """The restore must run even when the streaming query can't start
    (finally path): 'complete' output mode on a non-aggregate stream is an
    AnalysisException at start()."""
    import shutil

    from pyspark.errors.exceptions.base import PySparkException

    from hadoop_data_lake_spark.streaming import ingest

    stream, src_dir = ingest._open_stream(spark, _EVENTS)
    try:
        with pytest.raises(PySparkException):
            ingest.replay_to_memory(stream, output_mode="complete")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get(_MANAGER_KEY, None) is None
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


@pytest.mark.parametrize("run", ["run_batch_replay", "run_session_replay"])
def test_replay_results_invariant_to_session_partition_count(spark, session_confs, run):
    from hadoop_data_lake_spark.streaming import ingest

    def rows(parts):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        return sorted(map(tuple, getattr(ingest, run)(spark, _EVENTS).collect()))

    one = rows(1)
    assert one and one == rows(7)


def test_replay_results_invariant_to_state_partition_count(spark, monkeypatch):
    from hadoop_data_lake_spark.streaming import ingest

    path = f"{SF_DIR}/events.parquet"

    def session_keys(setting):
        monkeypatch.setattr(ingest, "REPLAY_STATE_PARTITIONS", setting)
        out = ingest.run_session_replay(spark, path, gap_seconds=1800)
        return {
            (r["user_id"], r["session_start_us"], r["n_events"])
            for r in out.collect()
        }

    assert session_keys(2) == session_keys(13)
