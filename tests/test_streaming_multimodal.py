"""Structured Streaming replay vs the batch plan, and the multimodal
binary-column plumbing."""

import pyspark.sql.functions as F
import pytest
import tempfile

from hadoop_data_lake_spark.core.io import read_table
from hadoop_data_lake_spark.operators.multimodal import synth_media_from_text, extract_features
from hadoop_data_lake_spark.streaming.ingest import run_batch_replay
from tests.conftest import SF_DIR


def test_stream_replay_equals_batch(spark):
    got = run_batch_replay(spark, f"{SF_DIR}/events.parquet", window_seconds=600)
    batch = (
        read_table(spark, SF_DIR, "events")
        .groupBy(
            (F.floor(F.unix_micros("ts") / 600_000_000) * 600_000_000).alias("window_start_us"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    g = {(r["window_start_us"], r["event_type"]): r["n"] for r in got.collect()}
    b = {(r["window_start_us"], r["event_type"]): r["n"] for r in batch.collect()}
    assert g == b


def test_multimodal_feature_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "ab"), (2, "xyz"), (3, "")], "doc_id long, text string"
    )
    media = synth_media_from_text(docs, "doc_id", "text")
    assert [f.dataType.simpleString() for f in media.schema.fields] == [
        "bigint",
        "binary",
        "struct<format:string,width:int,height:int,n_bytes:bigint>",
    ]
    feats = {r["media_id"]: r for r in extract_features(media, fake_decode=True).collect()}
    assert feats[1]["n_bytes"] == 2
    assert feats[1]["byte_sum"] == ord("a") + ord("b")
    assert feats[1]["first_byte"] == ord("a") and feats[1]["last_byte"] == ord("b")
    assert feats[2]["byte_mean"] == (ord("x") + ord("y") + ord("z")) / 3
    assert feats[3]["n_bytes"] == 0 and feats[3]["first_byte"] == -1


def test_multimodal_resize_stub(spark):
    from hadoop_data_lake_spark.operators.multimodal import resize_media

    docs = spark.createDataFrame([(1, "abcdefgh"), (2, "")], "doc_id long, text string")
    media = synth_media_from_text(docs, "doc_id", "text")
    out = {r["media_id"]: r for r in resize_media(media, target_w=2, target_h=2).collect()}
    # nearest-neighbor over bytes: positions floor(j * 8/4) = 0,2,4,6
    assert bytes(out[1]["media"]) == b"aceg"
    assert out[1]["meta"]["width"] == 2 and out[1]["meta"]["n_bytes"] == 4
    assert bytes(out[2]["media"]) == b""


def test_multimodal_frame_sampling(spark):
    from hadoop_data_lake_spark.operators.multimodal import sample_frames

    docs = spark.createDataFrame([(1, "abcdefgh")], "doc_id long, text string")
    media = synth_media_from_text(docs, "doc_id", "text")
    rows = sorted(
        sample_frames(media, n_frames=4).collect(), key=lambda r: r["frame_idx"]
    )
    assert [bytes(r["frame"]) for r in rows] == [b"ab", b"cd", b"ef", b"gh"]
    assert [r["n_bytes"] for r in rows] == [2, 2, 2, 2]


def test_approx_distinct_error_bound(spark):
    from hadoop_data_lake_spark.queries.northstar_queries import daily_unique_users_approx

    rows = daily_unique_users_approx(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # rsd=0.02 — allow a generous 10% band
        assert abs(r["approx_users"] - r["exact_users"]) <= max(2, 0.1 * r["exact_users"])


def test_stream_parquet_sink_with_checkpoint(spark, tmp_path):
    """Production sink path: file-stream source -> windowed agg -> parquet
    sink with checkpoint (append mode once the watermark closes windows);
    here complete->memory is swapped for append->parquet via foreachBatch,
    which is the idiomatic bridge for sinks that need overwrite/upsert."""
    from hadoop_data_lake_spark.streaming.ingest import _open_stream, windowed_event_counts

    out_dir = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    stream, _src_dir = _open_stream(spark, f"{SF_DIR}/events.parquet")
    counts = windowed_event_counts(stream, window_seconds=600)

    def sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    back = spark.read.parquet(out_dir)
    batch = (
        read_table(spark, SF_DIR, "events")
        .groupBy(
            (F.floor(F.unix_micros("ts") / 600_000_000) * 600_000_000).alias("window_start_us"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    g = {(r["window_start_us"], r["event_type"]): r["n"] for r in back.collect()}
    b = {(r["window_start_us"], r["event_type"]): r["n"] for r in batch.collect()}
    assert g == b
    import os
    assert os.path.isdir(ckpt)  # checkpoint state written


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(_pil_available(), reason="Pillow installed: real codec path active")
def test_decode_media_environment_limited():
    """COMPRESSED formats must fail with NotImplementedError — not a crash,
    not a silent fake — when Pillow is absent, so 'stub by environment' is
    provable for the codecs that genuinely need a library. The skipif
    inverts when Pillow is installed (the PIL roundtrip below takes over)."""
    from hadoop_data_lake_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_media(b"\x89PNG fake", "image/png")
    # WAV is now a REAL pure-Python codec; only compressed audio stays
    # environment-gated
    with pytest.raises(NotImplementedError, match="codec"):
        decode_media(b"ID3 fake", "audio/mpeg")
    with pytest.raises(ValueError, match="RIFF"):
        decode_media(b"not a riff", "audio/wav")


def _ppm_bytes(w: int, h: int, px) -> bytes:
    raster = bytes(b for row in range(h) for col in range(w) for b in px(col, row))
    return b"P6\n%d %d\n255\n" % (w, h) + raster


def test_decode_media_real_codec_roundtrip(spark):
    """The REAL codec path — container bytes in, canonical RGB raster out —
    end-to-end through extract_features, using the dependency-free P6 PPM
    decoder (VERDICT r3 item 7: no more PIL skip)."""
    ppm = _ppm_bytes(4, 3, lambda x, y: (10, 20, 30))
    media = spark.createDataFrame(
        [(1, bytearray(ppm), {"format": "image/x-portable-pixmap", "width": 4, "height": 3, "n_bytes": len(ppm)})],
        "media_id long, media binary, meta struct<format string, width int, height int, n_bytes long>",
    )
    row = extract_features(media, fake_decode=False).collect()[0]
    assert row["n_bytes"] == 4 * 3 * 3  # RGB raster bytes, not the container
    assert row["first_byte"] == 10 and row["last_byte"] == 30


def test_decode_bmp_normalizes_bgr_bottom_up():
    """24-bit BMP: bottom-up BGR rows with 4-byte padding must come out as
    top-down RGB — the canonical-raster contract."""
    import struct

    from hadoop_data_lake_spark.operators.multimodal import decode_bmp

    # 2x2 image; BMP rows bottom-up, BGR, row stride padded 6 -> 8 bytes.
    # Logical top row: red, green; bottom row: blue, white.
    bottom_row = bytes((255, 0, 0)) + bytes((255, 255, 255)) + b"\x00\x00"  # blue, white (BGR)
    top_row = bytes((0, 0, 255)) + bytes((0, 255, 0)) + b"\x00\x00"  # red, green (BGR)
    pixel_data = bottom_row + top_row  # stored bottom-up
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    w, h, raster = decode_bmp(header + info + pixel_data)
    assert (w, h) == (2, 2)
    assert raster == bytes(
        (255, 0, 0)) + bytes((0, 255, 0)) + bytes((0, 0, 255)) + bytes((255, 255, 255)
    )


def test_resize_media_real_path_ppm(spark):
    """Real resize: PPM in -> decode -> 2-D nearest-neighbor -> PPM out.
    A 4x4 image whose left half is black and right half is white resized to
    2x2 must keep that structure exactly."""
    from hadoop_data_lake_spark.operators.multimodal import decode_ppm, resize_media

    ppm = _ppm_bytes(4, 4, lambda x, y: (0, 0, 0) if x < 2 else (255, 255, 255))
    media = spark.createDataFrame(
        [(1, bytearray(ppm), {"format": "image/x-portable-pixmap", "width": 4, "height": 4, "n_bytes": len(ppm)})],
        "media_id long, media binary, meta struct<format string, width int, height int, n_bytes long>",
    )
    row = resize_media(media, target_w=2, target_h=2, fake_decode=False).collect()[0]
    assert row["meta"]["format"] == "image/x-portable-pixmap"
    w, h, raster = decode_ppm(bytes(row["media"]))
    assert (w, h) == (2, 2)
    assert raster == bytes((0, 0, 0)) + bytes((255, 255, 255)) + bytes((0, 0, 0)) + bytes((255, 255, 255))


def test_replay_releases_scratch_and_sink(spark):
    """Repeated replays must not leak stream_src_* scratch dirs or memory
    sink tables (session-lifetime leak fixed in streaming/ingest.py).
    Scratch dirs are asserted inside THIS process's scratch_root(), not the
    global tempdir — a concurrent harness (oracle sweep, second pytest)
    creating its own stream_src_* dir must not fail this suite."""
    import glob

    from hadoop_data_lake_spark.streaming.ingest import scratch_root

    before_dirs = set(glob.glob(f"{scratch_root()}/stream_src_*"))
    before_tables = {t.name for t in spark.catalog.listTables()}
    out = run_batch_replay(spark, f"{SF_DIR}/events.parquet", window_seconds=3600)
    assert out.count() > 0  # result survives resource release
    assert set(glob.glob(f"{scratch_root()}/stream_src_*")) == before_dirs
    new_tables = {t.name for t in spark.catalog.listTables()} - before_tables
    assert not {t for t in new_tables if t.startswith("stream_out_")}


def test_stream_stream_join_equals_batch(spark):
    from hadoop_data_lake_spark.streaming.ingest import run_attribution_replay

    got = run_attribution_replay(spark, f"{SF_DIR}/events.parquet", horizon_seconds=1800)
    ev = read_table(spark, SF_DIR, "events")
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("event_id").alias("view_id")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = v.join(
        p,
        (F.col("user_id") == F.col("pu"))
        & (F.col("pts") >= F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1800 SECONDS")),
    )
    assert {(r["view_id"], r["purchase_id"]) for r in got.collect()} == {
        (r["view_id"], r["purchase_id"]) for r in batch.collect()
    }
    assert got.count() > 0


def test_stream_dedup_within_watermark(spark):
    from hadoop_data_lake_spark.streaming.ingest import run_dedup_replay

    got = run_dedup_replay(spark, f"{SF_DIR}/events.parquet")
    expected = (
        read_table(spark, SF_DIR, "events")
        .select(
            "user_id", "event_type",
            F.unix_micros(F.date_trunc("minute", "ts")).alias("minute_us"),
        )
        .distinct()
    )
    assert got.count() == expected.count()
    assert got.distinct().count() == got.count()  # no surviving key repeats


def test_hll_rollup_error_bound(spark):
    from hadoop_data_lake_spark.functions.sketches import (
        hll_partial_sketches,
        hll_rollup_estimate,
    )

    ev = read_table(spark, SF_DIR, "events").select(
        F.weekofyear("ts").alias("week"), F.dayofweek("ts").alias("day"), "user_id"
    )
    daily = hll_partial_sketches(ev, ["week", "day"], "user_id")
    est = {r["week"]: r["approx_distinct"] for r in hll_rollup_estimate(daily, ["week"]).collect()}
    exact = {
        r["week"]: r["n"]
        for r in ev.groupBy("week").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for wk, n in exact.items():
        # lg_k=12 -> relative standard error ~1.6%; allow 5% (3 sigma-ish)
        assert abs(est[wk] - n) <= max(2, 0.05 * n), (wk, est[wk], n)


def test_tws_environment_limited_or_runs(spark):
    """transformWithStateInPandas (Spark 4 arbitrary-state API): runs and
    matches the batch aggregate where protobuf exists; in this container
    the dependency is absent, which must surface as the documented
    ImportError path — not a silent wrong answer."""
    from hadoop_data_lake_spark.streaming.ingest import run_tws_replay, tws_available

    if not tws_available():
        import pytest as _pytest

        with _pytest.raises(Exception):
            run_tws_replay(spark, f"{SF_DIR}/events.parquet")
        _pytest.skip("google.protobuf absent: transformWithStateInPandas env-blocked")
    got = run_tws_replay(spark, f"{SF_DIR}/events.parquet")
    batch = (
        read_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"))
    )
    g = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in got.collect()}
    b = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in batch.collect()}
    assert g == b


def test_stream_upsert_latest_matches_batch(spark, tmp_path):
    """foreachBatch CDC apply across 4 micro-batches must converge to the
    same latest-per-user table a single batch computation produces — the
    max-(ts, event_id) merge is commutative, so batch order can't matter.
    The target root must hold exactly one committed generation + the
    CURRENT pointer (superseded generations garbage-collected)."""
    import os

    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.operators.windows import top1_per_group
    from hadoop_data_lake_spark.streaming.ingest import stream_upsert_latest

    sf_dir = "/root/testdata/sf0.001"
    target = str(tmp_path / "latest_by_user")
    got = stream_upsert_latest(spark, f"{sf_dir}/events.parquet", target, n_slices=4)

    expected = top1_per_group(
        read_table(spark, sf_dir, "events"),
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    )
    key = lambda r: (r["user_id"], r["event_id"])
    assert sorted(map(key, got.collect())) == sorted(map(key, expected.collect()))
    # exactly one live generation + the CURRENT pointer; no tmp/leftovers
    entries = sorted(os.listdir(target))
    gens = [d for d in entries if d.startswith("gen_")]
    assert len(gens) == 1 and "CURRENT" in entries
    assert not [d for d in entries if d.startswith("CURRENT.tmp")]
    with open(os.path.join(target, "CURRENT"), encoding="utf-8") as fh:
        assert fh.read().strip() == gens[0]


def test_phash_near_dup_finds_planted_byte_edits(spark):
    """A length-preserving byte edit moves at most one segment sum (two
    gradient bits), so perturbed copies must pair with their originals at
    hamming <= 2 while unrelated word-soup blobs stay far apart."""
    from hadoop_data_lake_spark.operators.multimodal import (
        perceptual_hash,
        phash_near_dup_pairs,
    )

    docs = read_table(spark, SF_DIR, "documents").limit(40)
    planted = docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("z"), F.expr("substring(text, 2)")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    hashed = perceptual_hash(synth_media_from_text(corpus, "doc_id", "text"))
    pairs = phash_near_dup_pairs(hashed, max_hamming=3, chunks=4).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    planted_ids = [r["doc_id"] for r in planted.select("doc_id").collect()]
    for pid in planted_ids:
        orig = pid - 1000000
        assert (orig, pid) in got, f"planted pair {orig}<->{pid} missed"
        assert got[(orig, pid)] <= 2
    # recall is the guarantee; the small-vocabulary word-soup corpus also
    # yields some NATURAL near-profile pairs (byte-sum histograms of docs
    # drawn from ~40 words are correlated), which is correct behavior —
    # but every emitted pair must genuinely be within the hamming budget
    assert all(h <= 3 for h in got.values())


def test_phash_deterministic_and_banding_equals_exact(spark):
    """Banded candidate generation is pigeonhole-complete: its output must
    equal the exact all-pairs hamming scan, and repeated runs must be
    bit-identical (integer-exact pipeline)."""
    from hadoop_data_lake_spark.operators.multimodal import (
        perceptual_hash,
        phash_near_dup_pairs,
    )

    docs = read_table(spark, SF_DIR, "documents").limit(60)
    planted = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("q"), F.expr("substring(text, 2)")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    hashed = perceptual_hash(
        synth_media_from_text(corpus, "doc_id", "text")
    ).localCheckpoint()
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in phash_near_dup_pairs(hashed, max_hamming=3, chunks=4).collect()
    }
    a = hashed.select(
        F.col("media_id").alias("id_a"), F.col("phash").alias("ph_a")
    )
    b = hashed.select(
        F.col("media_id").alias("id_b"), F.col("phash").alias("ph_b")
    )
    exact = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.expr("ph_a ^ ph_b")))
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == exact
    again = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in phash_near_dup_pairs(hashed, max_hamming=3, chunks=4).collect()
    }
    assert again == banded


def test_wav_roundtrip_and_chunk_walking():
    """The RIFF parser must survive real-file chunk layouts: extra LIST
    chunks before data, word-aligned odd-size chunks; and reject
    non-PCM16 or malformed streams loudly."""
    import struct

    import pytest as _pytest

    from hadoop_data_lake_spark.operators.multimodal import (
        decode_wav,
        synth_wav_pcm16,
    )

    pcm = bytes(range(40))
    w = synth_wav_pcm16(pcm, sample_rate=16000, channels=1)
    assert decode_wav(w) == (1, 16000, pcm)

    # inject an odd-size LIST chunk between fmt and data (word-aligned pad)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"
    w2 = w[:36] + extra + w[36:]
    w2 = w2[:4] + struct.pack("<I", struct.unpack("<I", w[4:8])[0] + len(extra)) + w2[8:]
    assert decode_wav(w2) == (1, 16000, pcm)

    with _pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")
    # 8-bit wav must be rejected, not silently misparsed
    bad = bytearray(w)
    bad[34:36] = struct.pack("<H", 8)
    with _pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_decode_media_wav_dispatch(spark):
    from hadoop_data_lake_spark.operators.multimodal import (
        decode_media,
        synth_wav_pcm16,
    )

    pcm = b"ab" * 10
    assert decode_media(synth_wav_pcm16(pcm), "audio/wav") == pcm


def test_avi_roundtrip_and_mismatch_guard():
    """The AVI parser must roundtrip synth_avi_raw (word-aligned odd-size
    frames included), reject non-AVI RIFFs, and the frame-stats operator
    must refuse a container whose avih count disagrees with movi."""
    import struct

    import pytest as _pytest

    from hadoop_data_lake_spark.operators.multimodal import (
        decode_avi,
        synth_avi_raw,
        synth_wav_pcm16,
    )

    frames = [b"odd", b"evenly", b"x"]
    blob = synth_avi_raw(frames, width=4, height=2)
    declared, got = decode_avi(blob)
    assert declared == 3 and got == frames

    with _pytest.raises(ValueError, match="AVI"):
        decode_avi(synth_wav_pcm16(b"ab"))  # a RIFF, but WAVE not AVI

    # corrupt the declared count -> operator-level mismatch guard
    bad = bytearray(blob)
    # avih body starts at: RIFF(12) + LIST hdr(8) + 'hdrl'(4) + avih hdr(8)
    struct.pack_into("<I", bad, 12 + 8 + 4 + 8 + 16, 99)
    d2, got2 = decode_avi(bytes(bad))
    assert d2 == 99 and got2 == frames  # parser reports, operator enforces


def test_avi_frame_stats_real_container(spark):
    from hadoop_data_lake_spark.operators.multimodal import (
        avi_frame_stats,
        synth_avi_raw,
    )

    frames = [b"aaaa", b"bbbb", b"cccc", b"dddd"]
    media = spark.createDataFrame(
        [(1, bytearray(synth_avi_raw(frames)))], "media_id long, media binary"
    )
    rows = sorted(
        avi_frame_stats(media, every=2).collect(), key=lambda r: r["frame_idx"]
    )
    assert [(r["frame_idx"], r["n_bytes"], r["byte_sum"]) for r in rows] == [
        (0, 4, 4 * ord("a")),
        (2, 4, 4 * ord("c")),
    ]


def test_time_travel_generations(spark, tmp_path):
    """VERSION AS OF over the generation-pointer table: with retention on,
    superseded snapshots stay readable and immutable; CURRENT always names
    the newest; monotonicity holds (a user set never shrinks under
    latest-upsert); evicted generations fail loudly."""
    from hadoop_data_lake_spark.streaming.ingest import (
        list_generations,
        read_table_generation,
        stream_upsert_latest,
    )

    target = str(tmp_path / "latest_by_user")
    final = stream_upsert_latest(
        spark, f"{SF_DIR}/events.parquet", target, n_slices=4, keep_generations=8
    )
    gens = list_generations(target)
    assert len(gens) >= 2  # history retained
    current = read_table_generation(spark, target)
    assert sorted(map(tuple, current.collect())) == sorted(
        map(tuple, final.collect())
    )
    # each older snapshot covers a subset of users, never more rows/user
    prev_users = None
    for g in gens:
        snap = read_table_generation(spark, target, g)
        assert snap.groupBy("user_id").count().agg(F.max("count")).collect()[0][0] == 1
        users = {r["user_id"] for r in snap.select("user_id").collect()}
        if prev_users is not None:
            assert prev_users <= users
        prev_users = users
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="not retained"):
        read_table_generation(spark, target, "gen_9999999999")


def test_pointer_commit_crash_window_safety(spark, tmp_path):
    """Crash-safety contract of the generation-pointer protocol: a writer
    that dies AFTER writing a new generation dir but BEFORE the pointer
    swap leaves CURRENT naming the old, complete snapshot — readers never
    see a missing or half table; the orphan is invisible until GC'd."""
    from hadoop_data_lake_spark.streaming.ingest import (
        read_table_generation,
        stream_upsert_latest,
    )

    target = str(tmp_path / "t")
    stream_upsert_latest(
        spark, f"{SF_DIR}/events.parquet", target, n_slices=2, keep_generations=4
    )
    import os

    with open(os.path.join(target, "CURRENT"), encoding="utf-8") as fh:
        before = fh.read().strip()
    rows_before = sorted(
        map(tuple, read_table_generation(spark, target).collect())
    )
    # simulate the crash window: a new generation fully written, pointer
    # never swapped
    orphan = os.path.join(target, "gen_9999999990")
    spark.range(3).withColumnRenamed("id", "user_id").write.parquet(orphan)
    with open(os.path.join(target, "CURRENT"), encoding="utf-8") as fh:
        assert fh.read().strip() == before  # pointer untouched
    assert (
        sorted(map(tuple, read_table_generation(spark, target).collect()))
        == rows_before
    )  # readers still get the committed snapshot, bit for bit


def test_watermark_evicts_state_across_time_ordered_batches(spark):
    """State-eviction contract (round-8 streaming scale probe, made a
    permanent test): replaying events as time-ordered micro-batches
    advances the watermark between batches, so (a) the final batch's
    state-store rows must sit far below the peak (closed windows/sessions
    were dropped — a complete-mode single-batch replay can never show
    this), and (b) tumbling-window output must equal the batch groupBy
    regardless of the batching."""
    import glob
    import os
    import shutil
    import uuid

    from pyspark.sql import Window

    from hadoop_data_lake_spark.streaming.ingest import (
        scratch_root,
        windowed_event_counts,
    )

    ev = read_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    n_slices = 6
    sliced = ev.withColumn(
        "slice", F.ntile(n_slices).over(Window.orderBy("ts", "event_id"))
    ).localCheckpoint(eager=True)
    src_dir = tempfile.mkdtemp(prefix="evict_test_", dir=scratch_root())
    try:
        for i in range(1, n_slices + 1):
            tmp = tempfile.mkdtemp(prefix="slice_", dir=scratch_root())
            (
                sliced.where(F.col("slice") == i)
                .drop("slice")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(src_dir, f"slice_{i:03d}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            shutil.rmtree(tmp, ignore_errors=True)

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        name = f"evict_{uuid.uuid4().hex[:8]}"
        q = (
            windowed_event_counts(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        got = {
            (r["window_start_us"], r["event_type"]): r["n"]
            for r in spark.table(name).collect()
        }
        spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    assert len(state) >= n_slices, "one batch per slice file"
    assert max(state) > 0
    assert state[-1] <= max(state) // 4, (
        f"watermark never evicted: state history {state}"
    )

    want = {
        (r["w"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            ((F.unix_micros("ts") / 600_000_000).cast("long") * 600_000_000).alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # Append mode emits a window only once the watermark FINALIZES it, so
    # every emitted count must equal the batch rollup's, and the only
    # unemitted windows are the tail ones still inside the final watermark
    # horizon (max event time - 30 min delay).
    for k, n in got.items():
        assert want.get(k) == n, f"emitted window {k} disagrees with batch"
    wm_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0] - 1800 * 1_000_000
    for (w, _t) in want.keys() - got.keys():
        assert w + 600_000_000 > wm_us, (
            f"window starting {w} was finalized but never emitted"
        )


def test_stream_replay_over_empty_source(spark, tmp_path):
    """An empty availableNow batch is a legal production
    state (an empty Kafka topic window). A zero-row events source must
    drain cleanly to a 0-row result with the stable output schema — for a
    windowed aggregate, a stateful applyInPandasWithState query, and a
    stream-static join (the three state-machinery shapes in the guard)."""
    import glob
    import shutil

    from hadoop_data_lake_spark.queries.registry import REGISTRY

    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    tmp = str(tmp_path / "part")
    src.limit(0).coalesce(1).write.parquet(tmp)
    dest = str(tmp_path / "events.parquet")
    shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], dest)
    for other in ("documents", "embeddings", "orders", "lineitem", "customer",
                  "supplier", "part", "nation", "region"):
        p = f"{SF_DIR}/{other}.parquet"
        import os
        if os.path.exists(p):
            os.symlink(p, str(tmp_path / f"{other}.parquet"))

    for name in ("stream_windowed_counts", "stream_running_max",
                 "stream_enriched_value"):
        out = REGISTRY[name].fn(spark, str(tmp_path))
        assert out.count() == 0, f"{name} emitted rows from an empty source"
        assert len(out.schema.fields) > 0, f"{name} lost its output schema"
