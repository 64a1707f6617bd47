"""Structured Streaming ingest variant (engine extension; the reference is
weekly batch only — README.md:6 — so this is the §2.8 'optional extension').

Operators:
- windowed_event_counts: tumbling event-time windows + watermark — the
  streaming twin of the zone report's time-bucketed counts.
- sliding_event_counts: overlapping windows (duration > slide), each event
  lands in duration/slide windows.
- session_event_stats: native session_window aggregation — gap-based
  sessions closed by the watermark at scale.
- running_max_per_user: custom stateful operator via applyInPandasWithState
  (GroupState), the escape hatch for semantics the built-in windows can't
  express.

`run_batch_replay` drives any of these plans over a static parquet
directory with the availableNow trigger + a memory sink, which is how the
correctness oracle checks a streaming plan deterministically (single batch,
no late drops). The same plan pointed at a real source (Kafka/files) with
append mode + watermark is the production path.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_event_counts(
    events: DataFrame,
    window_seconds: int = 600,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time window counts per event_type (append-able with
    watermark; windows align to the epoch so starts are deterministic)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", f"{window_seconds} seconds").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window_seconds: int = 600,
    slide_seconds: int = 300,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding event-time windows: each event contributes to
    window_seconds/slide_seconds overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", f"{window_seconds} seconds", f"{slide_seconds} seconds").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
        )
    )


def session_event_stats(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Native session_window aggregation per user: a session closes after
    `gap_seconds` of inactivity (the streaming twin of operators/windows.
    sessionize; the watermark lets state for closed sessions be dropped)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{gap_seconds} seconds").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


_RUNNING_MAX_SCHEMA = "user_id long, max_value double, n_seen long"
_RUNNING_MAX_STATE_SCHEMA = "max_value double, n_seen long"


def running_max_per_user(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Custom stateful operator: per-user running max(value) + count via
    applyInPandasWithState. GroupState persists (max, n) across microbatches;
    each batch emits one updated row per user seen in that batch.

    This is the template for operators the built-in windows can't express
    (decaying counters, custom sketches, ML feature state)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cur_max, n = state.get
        else:
            cur_max, n = float("-inf"), 0
        for pdf in pdfs:
            vals = pdf["value"].dropna()
            if len(vals):
                cur_max = max(cur_max, float(vals.max()))
            n += int(len(pdf))
        state.update((cur_max, n))
        emit_max = None if cur_max == float("-inf") else cur_max
        yield pd.DataFrame(
            {"user_id": [key[0]], "max_value": [emit_max], "n_seen": [n]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_RUNNING_MAX_SCHEMA,
            stateStructType=_RUNNING_MAX_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SCRATCH_ROOT: str | None = None


def scratch_root() -> str:
    """One PROCESS-unique parent for every replay scratch dir. Leak checks
    (tests/test_streaming_multimodal.py) assert inside this root only —
    asserting on the global tempdir made the suite fail whenever a
    concurrent harness (oracle sweep, second pytest) happened to create its
    own stream_src_* dir mid-test."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
    return _SCRATCH_ROOT


def _open_stream(spark: SparkSession, parquet_path: str) -> tuple[DataFrame, str]:
    """Returns (streaming frame, scratch dir). The caller must remove the
    scratch dir once the replay has drained (see `_drain_replay`)."""
    from hadoop_data_lake_spark.core.io import normalize_ns_ts, read_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = read_parquet(spark, parquet_path).schema
    # The file-stream source monitors a DIRECTORY; expose a single-file input
    # through a scratch dir with a symlink (read-only source stays untouched).
    src_dir = tempfile.mkdtemp(prefix="stream_src_", dir=scratch_root())
    os.symlink(parquet_path, os.path.join(src_dir, os.path.basename(parquet_path)))
    return normalize_ns_ts(spark.readStream.schema(schema).parquet(src_dir)), src_dir


#: State-store partitions of a replay: at most this many, and never more
#: than the session's own `spark.sql.shuffle.partitions`. Each partition
#: pays a fixed store init + commit per batch whatever its row count.
REPLAY_STATE_PARTITIONS = 8

#: Checkpoint manager of a replay: renames with a plain FileSystem rename
#: (atomic on a local POSIX filesystem) instead of the default FileContext
#: manager, whose rename forks a `readlink` process per file when Hadoop's
#: native IO is not loaded. A replay's checkpoint is a temporary directory.
REPLAY_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def replay_to_memory(out: DataFrame, output_mode: str = "complete") -> str:
    """Drain a streaming frame into a memory sink with availableNow; returns
    the sink table name.

    Two session confs are pinned for the query start and restored after the
    drain, also when the start fails, so batch plans running before and
    after the replay see the session's own values:

    - `spark.sql.shuffle.partitions`, which fixes the streaming state-store
      partition count at query start, becomes
      min(`REPLAY_STATE_PARTITIONS`, the session's count): a one-batch
      replay is dominated by per-partition fixed costs;
    - `spark.sql.streaming.checkpointFileManagerClass` becomes
      `REPLAY_CHECKPOINT_MANAGER`, which cuts the per-file process forks of
      the default manager's rename. State-file checksums stay on."""
    spark = out.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    parts = min(REPLAY_STATE_PARTITIONS, int(spark.conf.get("spark.sql.shuffle.partitions")))
    pinned = {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.streaming.checkpointFileManagerClass": REPLAY_CHECKPOINT_MANAGER,
    }
    prev = {k: spark.conf.get(k, None) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        q = (
            out.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return name


def _drain_replay(
    spark: SparkSession, out: DataFrame, src_dir: str, output_mode: str = "complete"
) -> DataFrame:
    """Run the availableNow replay, then release every session-lifetime
    resource it pinned: the memory-sink table (driver heap) and the scratch
    source dir. Repeated replays previously leaked both (one scratch dir +
    one sink table per call). localCheckpoint detaches the result from the
    catalog JVM-side (a Python collect/recreate round-trip measured ~1.5s
    slower on a 95k-row session table) so dropping the sink can't
    invalidate the returned frame; the checkpoint blocks are freed when the
    frame is garbage collected."""
    import shutil

    name = replay_to_memory(out, output_mode=output_mode)
    try:
        result = spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(src_dir, ignore_errors=True)
    return result


def run_batch_replay(
    spark: SparkSession, parquet_path: str, window_seconds: int = 600
) -> DataFrame:
    """Tumbling-window counts replayed over a static parquet file."""
    stream, src_dir = _open_stream(spark, parquet_path)
    return _drain_replay(spark, windowed_event_counts(stream, window_seconds), src_dir)


def run_sliding_replay(
    spark: SparkSession,
    parquet_path: str,
    window_seconds: int = 600,
    slide_seconds: int = 300,
) -> DataFrame:
    stream, src_dir = _open_stream(spark, parquet_path)
    out = sliding_event_counts(stream, window_seconds, slide_seconds)
    return _drain_replay(spark, out, src_dir)


def run_session_replay(
    spark: SparkSession, parquet_path: str, gap_seconds: int = 1800
) -> DataFrame:
    stream, src_dir = _open_stream(spark, parquet_path)
    return _drain_replay(spark, session_event_stats(stream, gap_seconds), src_dir)


def run_stateful_replay(spark: SparkSession, parquet_path: str) -> DataFrame:
    stream, src_dir = _open_stream(spark, parquet_path)
    out = running_max_per_user(stream)
    return _drain_replay(spark, out, src_dir, output_mode="update")


def enriched_windowed_value(
    spark: SparkSession,
    events: DataFrame,
    window_seconds: int = 600,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-static join: the event stream enriched with a static dimension
    (per-type weight) BEFORE the windowed aggregation — the standard
    enrichment topology (static side is broadcast into every microbatch;
    no state, no watermark interaction)."""
    from hadoop_data_lake_spark.core.io import local_frame

    weights = local_frame(
        spark,
        [("click", 1), ("view", 1), ("purchase", 10), ("signup", 5), ("error", 0)],
        "event_type string, weight int",
    )
    from pyspark.sql import functions as FX

    return (
        events.join(FX.broadcast(weights), on="event_type", how="left")
        .withWatermark("ts", watermark)
        .groupBy(FX.window("ts", f"{window_seconds} seconds").alias("w"))
        .agg(FX.sum(FX.coalesce(FX.col("weight"), FX.lit(0))).alias("weighted"))
        .select(
            FX.unix_micros(FX.col("w.start")).alias("window_start_us"),
            "weighted",
        )
    )


def run_enriched_replay(
    spark: SparkSession, parquet_path: str, window_seconds: int = 600
) -> DataFrame:
    stream, src_dir = _open_stream(spark, parquet_path)
    out = enriched_windowed_value(spark, stream, window_seconds)
    return _drain_replay(spark, out, src_dir)


def attribution_join(events: DataFrame, horizon_seconds: int = 1800,
                     watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream interval join: each purchase joined to every view by the
    same user in the preceding `horizon_seconds` (the streaming twin of the
    batch as-of attribution, operators/asof.py — but keeping ALL candidate
    views, the standard multi-touch shape).

    Both sides carry watermarks and the join condition bounds both event
    times (purchase_ts in [view_ts, view_ts + horizon]), so the engine can
    expire buffered state — the requirement for an unbounded stream-stream
    inner join to run with finite memory."""
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", watermark)
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_seconds} SECONDS")),
        "inner",
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )


def run_attribution_replay(
    spark: SparkSession, parquet_path: str, horizon_seconds: int = 1800
) -> DataFrame:
    stream, src_dir = _open_stream(spark, parquet_path)
    out = attribution_join(stream, horizon_seconds)
    return _drain_replay(spark, out, src_dir, output_mode="append")


def attribution_join_left(events: DataFrame, horizon_seconds: int = 1800,
                          watermark: str = "30 minutes") -> DataFrame:
    """LEFT OUTER stream-stream interval join: every view, matched to the
    same-user purchases in the following `horizon_seconds` — plus a
    null-purchase row for views that never converted.

    The outer side is what makes this a different operator from
    `attribution_join`: an unmatched view can only be emitted once the
    engine PROVES no matching purchase can still arrive, i.e. when the
    global watermark (min over both sides of max-event-time - delay)
    passes view_ts + horizon — that's the state-eviction contract of outer
    stream-stream joins. Views still inside the watermark at end-of-stream
    are never emitted at all (their fate is undecided), which the batch
    oracle replays with an explicit final-watermark cutoff."""
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", watermark)
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_seconds} SECONDS")),
        "leftOuter",
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )


def run_attribution_left_replay(
    spark: SparkSession, parquet_path: str, horizon_seconds: int = 1800
) -> DataFrame:
    stream, src_dir = _open_stream(spark, parquet_path)
    out = attribution_join_left(stream, horizon_seconds)
    return _drain_replay(spark, out, src_dir, output_mode="append")


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming ingest dedup: keep one row per (user_id, event_type, minute)
    via dropDuplicatesWithinWatermark — the bounded-state dedup for at-least-
    once sources (a plain dropDuplicates would keep every key seen, forever;
    the watermark variant expires keys older than the delay, trading
    unbounded-history dedup for bounded state — the right call at ingest
    where duplicates are retries arriving close together).

    Emits only the key columns: within one replay batch which physical
    duplicate survives is arbitrary, the key set is deterministic."""
    keyed = events.select(
        "user_id",
        "event_type",
        F.col("ts").alias("ts"),
        (F.date_trunc("minute", F.col("ts"))).alias("minute_ts"),
    ).withWatermark("ts", watermark)
    deduped = keyed.dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_ts"])
    return deduped.select(
        "user_id", "event_type", F.unix_micros("minute_ts").alias("minute_us")
    )


def run_dedup_replay(spark: SparkSession, parquet_path: str) -> DataFrame:
    stream, src_dir = _open_stream(spark, parquet_path)
    out = dedup_within_watermark(stream)
    return _drain_replay(spark, out, src_dir, output_mode="append")


_TWS_OUT_SCHEMA = "user_id long, n_events long, total_value double"


def tws_available() -> bool:
    """transformWithStateInPandas needs google.protobuf for its state
    protocol; absent in this container (no installs). The operator below is
    complete and runs wherever protobuf exists — tests/test_streaming_
    multimodal.py proves the limitation is environmental (skipif pattern,
    same as the multimodal codecs)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_totals_tws(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Per-user running totals via transformWithStateInPandas — the Spark 4
    arbitrary-state API (successor to applyInPandasWithState): typed state
    variables (ValueState) managed by handle, per-batch emission. The
    template for custom stateful operators going forward; the GroupState
    version above stays as the legacy-API reference. Requires protobuf at
    runtime (see `tws_available`)."""
    import pandas as pd  # noqa: F811 (local for the worker closure)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events long, total_value double"
            )

        def handleInputRows(self, key, rows, timerValues) -> "Iterator[pd.DataFrame]":
            if self._state.exists():
                n, tot = self._state.get()
            else:
                n, tot = 0, 0.0
            for pdf in rows:
                n += int(len(pdf))
                tot += float(pdf["value"].fillna(0.0).sum())
            self._state.update((n, tot))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [tot]}
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=_TWS_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_tws_replay(spark: SparkSession, parquet_path: str) -> DataFrame:
    stream, src_dir = _open_stream(spark, parquet_path)
    out = user_totals_tws(stream)
    return _drain_replay(spark, out, src_dir, output_mode="update")


# --------------------------------------------------------------------------
# foreachBatch CDC apply: the streaming-lakehouse upsert pattern. Each
# micro-batch MERGES into a keyed parquet target instead of appending —
# what every "stream changes into a dimension table" pipeline does. The
# merge keeps the max (ts, event_id) row per key, which is commutative
# across batches, so the final table is independent of file->batch
# assignment order (asserted in tests).
# --------------------------------------------------------------------------

def stream_upsert_latest(
    spark: SparkSession,
    parquet_path: str,
    target_path: str,
    n_slices: int = 4,
    keep_generations: int = 1,
) -> DataFrame:
    """Replay `parquet_path` as `n_slices` micro-batches (maxFilesPerTrigger=1
    over a re-sliced copy) and foreachBatch-upsert the latest event per user
    into a parquet target. Returns the final target table.

    Commit protocol (generation pointer): `target_path` is a table ROOT
    holding immutable `gen_<batch>` parquet directories plus a CURRENT
    pointer file naming the live generation. Each batch reads the pointed-at
    generation, writes a NEW generation dir (never overwriting what it
    read), then commits with ONE atomic `os.replace` of the pointer — a
    crash at any instant leaves CURRENT naming a complete generation; there
    is no window with a missing or half-written table (the previous
    rename-pair commit had exactly that window — ADVICE r3). Superseded
    generations are garbage-collected after the pointer swap; a crash
    during GC only leaks a directory the next commit removes.

    Contract: LOCAL POSIX FILESYSTEM ONLY — the atomicity guarantee is
    os.replace(2) rename semantics. On HDFS or an object store use a
    lakehouse table format (Delta/Iceberg/Hudi), which implements this same
    pointer-commit idea with manifest files.
    """
    import os
    import shutil
    import tempfile

    from hadoop_data_lake_spark.core.io import normalize_ns_ts, read_parquet
    from hadoop_data_lake_spark.operators.windows import top1_per_group

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = normalize_ns_ts(read_parquet(spark, parquet_path))
    scratch = tempfile.mkdtemp(prefix="stream_upsert_src_", dir=scratch_root())
    src.repartition(n_slices).write.mode("overwrite").parquet(scratch)

    os.makedirs(target_path, exist_ok=True)
    pointer = os.path.join(target_path, "CURRENT")

    def current_gen() -> str | None:
        try:
            with open(pointer, encoding="utf-8") as fh:
                name = fh.read().strip()
        except FileNotFoundError:
            return None
        gen = os.path.join(target_path, name)
        return gen if os.path.isdir(gen) else None

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = top1_per_group(
            batch_df,
            ["user_id"],
            [F.col("ts").desc(), F.col("event_id").desc()],
        )
        live = current_gen()
        if live is not None:
            merged = top1_per_group(
                spark.read.parquet(live).unionByName(latest),
                ["user_id"],
                [F.col("ts").desc(), F.col("event_id").desc()],
            )
        else:
            merged = latest
        gen_name = f"gen_{batch_id:010d}"
        merged.write.mode("overwrite").parquet(os.path.join(target_path, gen_name))
        tmp = f"{pointer}.tmp_{batch_id}"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(gen_name)
        os.replace(tmp, pointer)  # the commit point — atomic on POSIX
        # retention: keep the newest `keep_generations` immutable dirs —
        # every retained superseded generation is a TIME-TRAVEL snapshot
        # (read_table_generation); GC only what falls off the horizon.
        gens = sorted(
            (e for e in os.listdir(target_path) if e.startswith("gen_")),
            reverse=True,
        )
        for entry in gens[max(1, keep_generations):]:
            shutil.rmtree(os.path.join(target_path, entry), ignore_errors=True)

    try:
        q = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(scratch)
            .writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    live = current_gen()
    if live is None:
        raise RuntimeError(f"stream_upsert_latest committed no generation under {target_path}")
    return spark.read.parquet(live).localCheckpoint(eager=True)


def list_generations(target_path: str) -> list[str]:
    """Retained snapshot names, oldest first; the CURRENT pointer's target
    is the last entry (pointer-commit invariant)."""
    import os

    gens = sorted(
        e for e in os.listdir(target_path) if e.startswith("gen_")
    )
    return gens


def read_table_generation(
    spark: SparkSession, target_path: str, generation: str | None = None
) -> DataFrame:
    """Time travel over a generation-pointer table: read the CURRENT
    snapshot (generation=None) or any retained historical generation by
    name — the lakehouse VERSION AS OF read, on the same immutable-dirs +
    atomic-pointer commit protocol stream_upsert_latest writes. Reading
    never races a writer: generations are immutable once written and the
    pointer swap is atomic, so a concurrent commit changes which snapshot
    is CURRENT but never the bytes under a snapshot being read."""
    import os

    if generation is None:
        with open(os.path.join(target_path, "CURRENT"), encoding="utf-8") as fh:
            generation = fh.read().strip()
    gen_dir = os.path.join(target_path, generation)
    if not os.path.isdir(gen_dir):
        raise FileNotFoundError(
            f"generation {generation!r} not retained in {target_path} "
            f"(have: {list_generations(target_path)})"
        )
    return spark.read.parquet(gen_dir)
