"""Window operators: argmin/top-k tie determinism, lag gap (B4 fix),
sessionization, and prefix aggregation with its driver tier's identity
and decline contracts."""

import random

import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from hadoop_data_lake_spark.core import driver_tier as DT
from hadoop_data_lake_spark.operators import packing as P
from hadoop_data_lake_spark.operators.windows import (
    sessionize,
    top1_per_group,
    topk_per_group,
    with_lag_gap_us,
)


def _scores(spark):
    return spark.createDataFrame(
        [
            ("a", 1, 10.0),
            ("a", 2, 10.0),  # exact tie with id=1 — tie-break on id
            ("a", 3, 20.0),
            ("b", 4, 5.0),
        ],
        "k string, id long, score double",
    )


def test_top1_deterministic_tie_break(spark):
    out = top1_per_group(
        _scores(spark), ["k"], [F.col("score").asc(), F.col("id").asc()]
    ).collect()
    got = {r["k"]: r["id"] for r in out}
    assert got == {"a": 1, "b": 4}


def test_topk_ranks(spark):
    out = topk_per_group(
        _scores(spark), ["k"], [F.col("score").asc(), F.col("id").asc()], k=2
    ).collect()
    got = sorted((r["k"], r["rnk"], r["id"]) for r in out)
    assert got == [("a", 1, 1), ("a", 2, 2), ("b", 1, 4)]


def test_lag_gap_exact_microseconds(spark):
    df = spark.createDataFrame(
        [
            ("u", "2024-01-01 00:00:00"),
            ("u", "2024-01-01 00:00:30"),
            ("u", "2024-01-02 00:00:30"),
        ],
        "k string, s string",
    ).withColumn("ts", F.to_timestamp("s"))
    out = with_lag_gap_us(df, ["k"], "ts").orderBy("ts").collect()
    assert [r["gap_us"] for r in out] == [None, 30_000_000, 86_400_000_000]


def test_sessionize_gap_boundary(spark):
    # 1800 s sessions: gap == 1800 s keeps the session, gap > 1800 s splits.
    df = spark.createDataFrame(
        [
            ("u", "2024-01-01 00:00:00"),
            ("u", "2024-01-01 00:30:00"),   # exactly 1800 s later — same session
            ("u", "2024-01-01 01:00:01"),   # 1801 s later — new session
            ("v", "2024-01-01 00:00:00"),
        ],
        "k string, s string",
    ).withColumn("ts", F.to_timestamp("s"))
    out = sessionize(df, ["k"], "ts", gap_seconds=1800).orderBy("k", "ts").collect()
    assert [(r["k"], r["session_id"]) for r in out] == [
        ("u", 1),
        ("u", 1),
        ("u", 2),
        ("v", 1),
    ]


def test_distributed_prefix_sum_matches_serial(spark):
    """Two-phase prefix sum == driver-side serial cumsum, across multiple
    range partitions, and no global single-partition window in the plan."""
    from hadoop_data_lake_spark.operators.packing import pack_sequences, token_prefix_sum

    vals = [(i, (i * 37) % 100 + 1) for i in range(500)]
    df = spark.createDataFrame(vals, "id long, n long")
    got = {r["id"]: r["cum"] for r in token_prefix_sum(df, "id", "n", num_partitions=8).collect()}
    running = 0
    for i, n in vals:
        running += n
        assert got[i] == running
    # packing: a doc straddling the context boundary spans two sequences
    packed = {r["id"]: r for r in pack_sequences(df, "id", "n", context_len=128).collect()}
    for i, n in vals:
        r = packed[i]
        assert r["end_tok"] - r["start_tok"] + 1 == n
        assert r["start_seq"] == r["start_tok"] // 128
        assert r["end_seq"] == r["end_tok"] // 128
    assert any(packed[i]["end_seq"] > packed[i]["start_seq"] for i, _ in vals)


def test_time_grid_interpolate_linear_values(spark):
    from hadoop_data_lake_spark.operators.timeseries import time_grid_interpolate

    # user 1: observations at buckets 0 (v=0.0) and 3 (v=9.0) -> ramp 0,3,6,9
    rows = [
        (1, 0, 100, 0.0),
        (1, 3 * 600_000_000, 101, 9.0),
        # user 2: single observation -> constant
        (2, 600_000_000, 200, 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long, event_id long, value double").select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts"), "event_id", "value"
    )
    out = time_grid_interpolate(
        df, ["user_id"], "ts", "value", bucket_seconds=600, tiebreak=["event_id"]
    )
    got = {
        (r["user_id"], r["bucket_start_us"]): (r["value"], r["observed"])
        for r in out.collect()
    }
    assert got[(1, 0)] == (0.0, True)
    assert got[(1, 600_000_000)] == (3.0, False)
    assert got[(1, 1_200_000_000)] == (6.0, False)
    assert got[(1, 1_800_000_000)] == (9.0, True)
    assert got[(2, 600_000_000)] == (5.0, True)
    assert len(got) == 5


def test_time_grid_interpolate_running_frames_only(spark):
    """Both fill windows are running frames (a currentRow..unboundedFollowing
    frame is recomputed per row), with the same rows as the serial
    definition: leading and trailing buckets whose last event carries a
    NULL value are unobserved and clamp to the nearest observation."""
    from hadoop_data_lake_spark.operators.timeseries import time_grid_interpolate

    b = 600_000_000  # one bucket, in micros
    rows = [
        (1, 0, 1, None),  # leading unobserved bucket 0
        (1, b, 2, 2.0),
        (1, 3 * b, 3, 7.0),
        (1, 3 * b + 1, 4, 8.0),  # later event wins bucket 3
        (1, 5 * b, 5, None),  # trailing unobserved bucket 5
        (2, 2 * b, 6, None),  # one unobserved bucket, nothing to fill from
        (3, 0, 7, 1.0),
        (3, 2 * b, 8, 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, us long, event_id long, value double"
    ).select("user_id", F.timestamp_micros("us").alias("ts"), "event_id", "value")
    out = time_grid_interpolate(
        df, ["user_id"], "ts", "value", bucket_seconds=600, tiebreak=["event_id"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "unboundedfollowing" not in plan
    got = sorted(map(tuple, out.collect()))
    assert got == [
        (1, 0, 2.0, False),
        (1, b, 2.0, True),
        (1, 2 * b, 5.0, False),
        (1, 3 * b, 8.0, True),
        (1, 4 * b, 8.0, False),
        (1, 5 * b, 8.0, False),
        (2, 2 * b, None, False),
        (3, 0, 1.0, True),
        (3, b, 2.0, False),
        (3, 2 * b, 3.0, True),
    ]


def test_prefix_agg_multi_column_and_running_max(spark):
    """prefix_agg: several running sums + a running max share one range
    repartition and match the serial fold, including negative values
    (where 'max of local running sums' would be the wrong partition
    total) and a NULL-offset first partition for the max."""
    from hadoop_data_lake_spark.operators.packing import prefix_agg

    vals = [(i, ((i * 37) % 100) - 50, (i * 13) % 997) for i in range(400)]
    df = spark.createDataFrame(vals, "id long, v long, m long")
    out = {
        r["id"]: (r["cum_v"], r["n"], r["cmax"])
        for r in prefix_agg(
            df,
            "id",
            sum_cols={"cum_v": "v", "n": "id"},
            max_cols={"cmax": "m"},
            num_partitions=8,
        ).collect()
    }
    run_v = run_id = 0
    run_m = None
    for i, v, m in vals:
        run_v += v
        run_id += i
        run_m = m if run_m is None or m > run_m else run_m
        assert out[i] == (run_v, run_id, run_m), i


def test_prefix_agg_requires_a_running_column(spark):
    from hadoop_data_lake_spark.operators.packing import prefix_agg
    import pytest

    df = spark.range(3)
    with pytest.raises(ValueError):
        prefix_agg(df, "id")


def test_prefix_agg_driver_identity_random(spark, tiers):
    """Driver tier == two-phase distributed path on random frames with
    multi-column order keys, signed integer sums and mixed-type maxes."""
    from hadoop_data_lake_spark.operators.packing import prefix_agg

    rng = random.Random(17)
    for _ in range(3):
        n = rng.randint(1, 300)
        rows = [
            (
                rng.randint(0, 10**6),
                f"k{rng.randint(0, 40):03d}",
                rng.randint(-100, 100),
                rng.randint(0, 10**4) / 7.0,
            )
            for _ in range(n)
        ]
        df = spark.createDataFrame(rows, "oid long, okey string, val int, fval double")
        args = dict(sum_cols={"s": "val"}, max_cols={"m": "val", "fm": "fval"})
        a, b = tiers.on_off(
            lambda: sorted(map(str, prefix_agg(df, ["oid", "okey"], **args).collect()))
        )
        assert a == b


def test_prefix_agg_driver_declines(spark, tiers, monkeypatch):
    from hadoop_data_lake_spark.operators import packing as P

    # float sum inputs: order-dependent in the low bits -> decline
    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "oid long, fval double")
    assert P._prefix_agg_driver(df, ["oid"], {"s": "fval"}, {}) is None
    # NULL in an involved column -> decline (skip-null window semantics)
    df2 = spark.createDataFrame([(None, 1), (2, 2)], "oid long, val int")
    assert P._prefix_agg_driver(df2, ["oid"], {"s": "val"}, {}) is None
    # over-cap -> decline via the limit probe
    df3 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "oid long, val int")
    monkeypatch.setattr(DT, "MAX_ROWS", 2)
    assert P._prefix_agg_driver(df3, ["oid"], {"s": "val"}, {}) is None
    monkeypatch.undo()
    # int64 overflow envelope -> decline
    big = spark.createDataFrame(
        [(1, 2**62), (2, 2**62)], "oid long, val long"
    )
    assert P._prefix_agg_driver(big, ["oid"], {"s": "val"}, {}) is None
    # tier switch off -> decline
    tiers(False)
    assert P._prefix_agg_driver(df3, ["oid"], {"s": "val"}, {}) is None


# ------------------------------------------ prefix_agg n_rows_bound, byte
# and NULL gates. A caller-known over-cap bound declines the driver tier
# without the limit(cap+1) probe; unbounded-payload columns and
# NULL-carrying passthrough integral columns decline to the distributed
# path, whose results are the contract.


def _counted_frame(spark, n=20):
    """(frame, accumulator): every upstream execution adds n to the
    accumulator via a non-deterministic scalar UDF (non-deterministic so
    the optimizer cannot duplicate or prune it)."""
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    u = F.udf(bump, LongType()).asNondeterministic()
    df = (
        spark.range(n)
        .select(u(F.col("id")).alias("k"))
        .withColumn("__one", F.lit(1))
    )
    return df, acc


def test_prefix_bound_over_cap_skips_probe(spark, tiers, monkeypatch):
    """An over-cap `n_rows_bound` must decline WITHOUT the limit(cap+1)
    probe: the upstream executes exactly as many times as the tier-off
    distributed path, and the boundless probe path
    demonstrably executes it more."""
    monkeypatch.setattr(DT, "MAX_ROWS", 10)
    n = 20

    def run(bound, tier_on):
        tiers(tier_on)
        df, acc = _counted_frame(spark, n)
        out = P.prefix_agg(
            df, ["k"], sum_cols={"rk": "__one"}, n_rows_bound=bound
        )
        rows = {(r["k"], r["rk"]) for r in out.collect()}
        return rows, acc.value

    base_rows, base_execs = run(bound=None, tier_on=False)
    bound_rows, bound_execs = run(bound=n, tier_on=True)
    probe_rows, probe_execs = run(bound=None, tier_on=True)
    assert bound_rows == base_rows == probe_rows == {
        (k, k + 1) for k in range(n)
    }
    # the bound path adds ZERO upstream executions over tier-off ...
    assert bound_execs == base_execs
    # ... while the boundless probe on an over-cap input pays extra
    assert probe_execs > base_execs


def test_prefix_bound_under_cap_fires(spark, tiers):
    """A sound under-cap bound keeps the tier firing (and the defensive
    limit recheck still declines when the promise is broken)."""
    df = spark.range(50).select(F.col("id").alias("k")).withColumn(
        "__one", F.lit(1)
    )
    got = P._prefix_agg_driver(df, ["k"], {"rk": "__one"}, {}, n_rows_bound=50)
    assert got is not None
    assert {(r["k"], r["rk"]) for r in got.collect()} == {
        (k, k + 1) for k in range(50)
    }
    # broken promise: bound says 10, frame holds 50 over a 10-row cap
    import unittest.mock as mock

    with mock.patch.object(DT, "MAX_ROWS", 10):
        assert (
            P._prefix_agg_driver(df, ["k"], {"rk": "__one"}, {}, n_rows_bound=5)
            is None
        )


def test_prefix_tier_declines_array_passthrough(spark, tiers):
    """Unbounded-payload passthrough columns decline the collect (the
    budget is bytes; a row cap cannot see a token-array column
    coming) — and the distributed path still answers correctly."""
    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [4])],
        StructType(
            [
                StructField("k", LongType()),
                StructField("toks", ArrayType(LongType())),
            ]
        ),
    ).withColumn("__one", F.lit(1))
    assert P._prefix_agg_driver(df, ["k"], {"rk": "__one"}, {}) is None
    out = P.prefix_agg(df, ["k"], sum_cols={"rk": "__one"})
    assert {(r["k"], r["rk"]) for r in out.collect()} == {(1, 1), (2, 2)}


def test_prefix_tier_declines_wide_frames_by_bytes(spark, tiers):
    """min(row cap, byte budget / est row width): a schema wide enough to
    blow the byte budget shrinks the effective cap below the frame."""
    import unittest.mock as mock

    df = spark.range(100).select(F.col("id").alias("k")).withColumn(
        "__one", F.lit(1)
    )
    for c in range(6):
        df = df.withColumn(f"s{c}", F.lit("x"))
    # est width: 2x8 (longs) + 6x48 (strings) = 304 B -> cap = 1024//304 = 3
    with mock.patch.object(DT, "MAX_BYTES", 1024):
        assert P._prefix_agg_driver(df, ["k"], {"rk": "__one"}, {}) is None


def test_prefix_tier_declines_null_passthrough_integral(spark, tiers):
    """A NULL-carrying passthrough integral column declines: pandas would
    round-trip it through float64 and silently lose >= 2^53 precision. The distributed path keeps the exact values."""
    big = (1 << 53) + 1  # not representable in float64
    df = spark.createDataFrame(
        [(1, big, 1), (2, None, 1), (3, big + 2, 1)],
        StructType(
            [
                StructField("k", LongType()),
                StructField("payload", LongType()),
                StructField("__one", LongType()),
            ]
        ),
    )
    assert P._prefix_agg_driver(df, ["k"], {"rk": "__one"}, {}) is None
    out = P.prefix_agg(df, ["k"], sum_cols={"rk": "__one"})
    got = {(r["k"], r["payload"], r["rk"]) for r in out.collect()}
    assert got == {(1, big, 1), (2, None, 2), (3, big + 2, 3)}
    # no nulls -> pandas keeps int64 and the tier fires exactly
    df2 = df.where(F.col("payload").isNotNull())
    tier = P._prefix_agg_driver(df2, ["k"], {"rk": "__one"}, {})
    assert tier is not None
    assert {(r["k"], r["payload"]) for r in tier.collect()} == {
        (1, big),
        (3, big + 2),
    }
