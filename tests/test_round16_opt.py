"""Round-16 optimization contracts (OPTIMIZATION_r16.md).

- `core/io.parquet_row_count` cap early-exit (VERDICT r15 item 3): the
  footer loop stops as soon as the running sum exceeds the caller's cap
  (bounded driver metadata work on many-file tables) and answers None
  past the file-count guard so callers fall back to the Spark count.
- `packing.prefix_agg(n_rows_bound=...)` (VERDICT r15 item 6): a
  caller-known over-cap bound declines the driver tier WITHOUT the
  limit(cap+1) probe, so an over-cap input's upstream executes exactly
  as often as the tier-off distributed path — never once more.
- prefix driver-tier byte/NULL gates (ADVICE r15): unbounded-payload
  columns (arrays/maps/structs/binary) and NULL-carrying passthrough
  integral columns decline to the distributed path, whose results are
  the contract.
- NULL node ids decline the CC union-find driver tier instead of
  crashing or fabricating ids (ADVICE r15).
"""

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from hadoop_data_lake_spark.core import driver_tier as DT
from hadoop_data_lake_spark.core import io as IO
from hadoop_data_lake_spark.operators import graph as G
from hadoop_data_lake_spark.operators import packing as P


# ---------------------------------------------- parquet_row_count cap


@pytest.fixture()
def many_file_table(spark, tmp_path):
    """A directory-layout parquet table of 6 files x 100 rows."""
    root = tmp_path / "sfdir"
    (root / "t.parquet").mkdir(parents=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(6):
        pq.write_table(
            pa.table({"x": list(range(i * 100, i * 100 + 100))}),
            str(root / "t.parquet" / f"part-{i:05d}.parquet"),
        )
    return str(root)


def test_parquet_row_count_exact_without_cap(many_file_table):
    assert IO.parquet_row_count(many_file_table, "t") == 600


def test_parquet_row_count_cap_early_exit(many_file_table, monkeypatch):
    """With a cap, the loop reads footers only until the sum exceeds it:
    cap=150 must stop after the second footer (2 reads, partial sum 200),
    never all six."""
    import pyarrow.parquet as pq

    reads = []
    orig = pq.ParquetFile

    def counting(path, *a, **kw):
        reads.append(path)
        return orig(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    got = IO.parquet_row_count(many_file_table, "t", cap=150)
    assert got is not None and got > 150  # a correct over-cap verdict
    assert len(reads) == 2  # early exit, not a full footer sweep
    reads.clear()
    # under-cap: all footers read, exact count back
    assert IO.parquet_row_count(many_file_table, "t", cap=10_000) == 600
    assert len(reads) == 6


def test_parquet_row_count_file_count_guard(many_file_table, monkeypatch):
    """Past the footer budget the function answers None (callers fall
    back to the distributed count — sound on any layout)."""
    monkeypatch.setattr(IO, "PARQUET_COUNT_MAX_FOOTERS", 3)
    assert IO.parquet_row_count(many_file_table, "t") is None
    assert IO.parquet_row_count(many_file_table, "t", cap=10) is None


# ------------------------------------------ prefix_agg n_rows_bound


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
    distributed path (VERDICT r15 item 6), and the boundless probe path
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


# ------------------------------------------ prefix byte / NULL gates


def test_prefix_tier_declines_array_passthrough(spark, tiers):
    """Unbounded-payload passthrough columns decline the collect (ADVICE
    r15: the budget is bytes; a row cap cannot see a token-array column
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
    round-trip it through float64 and silently lose >= 2^53 precision
    (ADVICE r15). The distributed path keeps the exact values."""
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


# ------------------------------------------------ NULL-id graph gates


def test_cc_driver_labels_declines_on_null_ids(spark, tiers):
    raw = spark.createDataFrame(
        [(1, 2), (None, 3)],
        StructType([StructField("u", LongType()), StructField("v", LongType())]),
    ).localCheckpoint(eager=True)
    assert G._cc_driver_labels(raw) is None  # decline, not TypeError


# ----------------------------------------- value_psi_drift bin fold


def test_value_psi_drift_driver_fold_matches_distributed(spark, tiers):
    """The r16 driver fold (cut/ranks/edges/bin map/pivot in numpy) must
    produce the identical 10 rows as the distributed prefix + crossJoin
    formulation — including the float tail, which both paths compute in
    Spark over the same integers."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    fn = REGISTRY["value_psi_drift"].fn
    sf = SF_DIR
    on, off = tiers.on_off(lambda: sorted(map(tuple, fn(spark, sf).collect())))
    assert on == off
    assert len(on) == 10 and {r[0] for r in on} == set(range(10))


# ------------------------------- cluster_safe_split_audit leak fold


def test_split_audit_leak_fold_matches_distributed(spark, tiers):
    """The r16 driver leak fold (Python md5 over the collected pair list)
    must equal the distributed leak joins row-for-row — including the
    md5(cast(id as string)) replication and the leak_c == 0 invariant."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    fn = REGISTRY["cluster_safe_split_audit"].fn
    sf = SF_DIR
    on, off = tiers.on_off(lambda: sorted(map(tuple, fn(spark, sf).collect())))
    assert on == off
    by_kind = {r[0]: r for r in on}
    assert by_kind["cluster_aware"][3] == 0  # no leaks by construction
    assert by_kind["cluster_aware"][1] + by_kind["cluster_aware"][2] == 500


# ------------------------------------- dedup_clusters decline path


def test_dedup_clusters_over_cap_matches_tier(spark, tiers, monkeypatch):
    """The refactored decline path (_cc_distributed on the caller's own
    checkpoint — no re-checkpoint, no second tier gate) labels exactly
    like the driver tier."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5), (3, 1)],
        StructType(
            [StructField("doc_a", LongType()), StructField("doc_b", LongType())]
        ),
    )
    want = {
        (r["doc"], r["cluster_rep"], r["cluster_size"])
        for r in G.dedup_clusters(pairs).collect()
    }
    monkeypatch.setattr(DT, "MAX_ROWS", 2)  # force decline
    got = {
        (r["doc"], r["cluster_rep"], r["cluster_size"])
        for r in G.dedup_clusters(pairs).collect()
    }
    assert got == want == {
        (1, 1, 3),
        (2, 1, 3),
        (3, 1, 3),
        (10, 10, 2),
        (11, 10, 2),
        (5, 5, 1),
    }
