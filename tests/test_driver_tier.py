"""core.driver_tier.collect_bounded: the one gate every driver tier
collects through.

One test per decline reason, the Spark job counts of the bound and probe
paths (counted through a job group), and the HITS NULL-id regression the
gate's NULL decline fixes.
"""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from conftest import SF_DIR, count_jobs
from hadoop_data_lake_spark.core import driver_tier as DT


def _longs(spark, n):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_gate_returns_the_frame(spark, tiers):
    pdf, jobs = count_jobs(spark, lambda: DT.collect_bounded(_longs(spark, 3), max_rows=10))
    assert list(pdf.columns) == ["k", "v"]
    assert sorted(pdf["v"].tolist()) == [0, 10, 20]
    assert jobs == 1


def test_gate_declines_when_switched_off(spark, tiers):
    tiers(False)
    out, jobs = count_jobs(spark, lambda: DT.collect_bounded(_longs(spark, 3), max_rows=10))
    assert out is None and jobs == 0


def test_gate_declines_types_not_allowed(spark, tiers):
    df = _longs(spark, 3).withColumn("s", F.lit("x"))

    def run():
        return [
            # one tuple constrains every column
            DT.collect_bounded(df, max_rows=10, types=DT.INTEGRAL),
            # a map constrains only the listed columns
            DT.collect_bounded(df, max_rows=10, types={"s": DT.INTEGRAL}),
            # unbounded payloads decline with no types given at all
            DT.collect_bounded(
                df.withColumn("a", F.array("k")), max_rows=10
            ),
        ]

    out, jobs = count_jobs(spark, run)
    assert out == [None, None, None] and jobs == 0
    ok = DT.collect_bounded(df, max_rows=10, types={"k": DT.INTEGRAL})
    assert ok is not None and len(ok) == 3


def test_gate_bound_over_cap_declines_without_a_job(spark, tiers, monkeypatch):
    df = _longs(spark, 5)
    out, jobs = count_jobs(spark, lambda: DT.collect_bounded(df, max_rows=4, bound=5))
    assert out is None and jobs == 0
    # the byte budget lowers the cap the same way: 16 B rows, 64 B budget
    monkeypatch.setattr(DT, "MAX_BYTES", 64)
    out, jobs = count_jobs(spark, lambda: DT.collect_bounded(df, max_rows=10, bound=5))
    assert out is None and jobs == 0


def test_gate_sound_bound_takes_one_collect_and_no_probe(spark, tiers):
    df = _longs(spark, 5)
    pdf, jobs = count_jobs(spark, lambda: DT.collect_bounded(df, max_rows=10, bound=5))
    assert len(pdf) == 5 and jobs == 1


def test_gate_probe_over_cap_declines(spark, tiers):
    df = _longs(spark, 5)
    out, jobs = count_jobs(spark, lambda: DT.collect_bounded(df, max_rows=4))
    assert out is None and jobs == 1  # the limit(cap + 1) collect itself
    pdf = DT.collect_bounded(df, max_rows=5)
    assert len(pdf) == 5


def test_gate_declines_broken_bound(spark, tiers):
    """A bound below the rows that actually arrive was not sound: decline
    after the one collect."""
    out, jobs = count_jobs(
        spark, lambda: DT.collect_bounded(_longs(spark, 5), max_rows=10, bound=2)
    )
    assert out is None and jobs == 1


def test_gate_declines_empty_input(spark, tiers):
    empty = _longs(spark, 0)
    assert DT.collect_bounded(empty, max_rows=10) is None
    assert DT.collect_bounded(empty, max_rows=10, bound=0) is None


def test_gate_declines_null_and_nan_in_checked_columns(spark, tiers):
    df = spark.createDataFrame(
        [(1, 1.0, None), (None, float("nan"), 3)], "a long, b double, c long"
    )
    assert DT.collect_bounded(df, max_rows=10, null_cols=("a",)) is None
    assert DT.collect_bounded(df, max_rows=10, null_cols=("b",)) is None
    assert DT.collect_bounded(df, max_rows=10, null_cols=("c",)) is None
    # unchecked columns may carry NULLs and NaNs
    assert len(DT.collect_bounded(df.where("c = 3"), max_rows=10, null_cols=("c",))) == 1


# ------------------------------------------------ HITS NULL-id regression


def test_hits_topk_sides_driver_declines_null_ids(spark, tiers):
    """A NULL hub id ranked in the top k made the fused HITS tier raise
    `ValueError: cannot convert float NaN to integer`; the gate's NULL
    decline hands such graphs to the distributed loop."""
    from hadoop_data_lake_spark.operators.graph import hits_topk_sides_driver

    e = spark.createDataFrame(
        [(None, 1), (None, 2), (None, 3), (5, 1)], "c long, s long"
    )
    assert hits_topk_sides_driver(e, "c", "s", n_edges_bound=4) is None


def test_hits_query_with_null_hub_matches_tiers_off(spark, tiers, tmp_path):
    """End to end: with a NULL customer key in the purchase graph the
    query returns the same rows with the tiers on as with them off, and
    the NULL hub is among them."""
    from hadoop_data_lake_spark.queries.tpch_queries import hits_hubs_authorities

    orders = pq.read_table(f"{SF_DIR}/orders.parquet")
    cust = orders.column("o_custkey").to_pylist()
    # a third of the orders lose their customer: one heavy NULL hub
    cust = [None if i % 3 == 0 else c for i, c in enumerate(cust)]
    orders = orders.set_column(
        orders.schema.get_field_index("o_custkey"),
        "o_custkey",
        pa.array(cust, type=orders.schema.field("o_custkey").type),
    )
    pq.write_table(orders, str(tmp_path / "orders.parquet"))
    pq.write_table(
        pq.read_table(f"{SF_DIR}/lineitem.parquet"), str(tmp_path / "lineitem.parquet")
    )
    on, off = tiers.on_off(
        lambda: sorted(
            map(tuple, hits_hubs_authorities(spark, str(tmp_path)).collect()),
            key=repr,
        )
    )
    assert on == off
    assert ("hub", None) in {(side, node) for side, node, _ in on}


def test_pagerank_det_tier_adds_no_job_to_its_collect(spark, tiers):
    """The fused PageRank tier's bound comes off the parquet footers, so
    building the query runs exactly the jobs of collecting its raw edge
    projection — no probe, no count."""
    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.tpch_queries import pagerank_det

    def collect_raw_edges():
        # the query's own reads and its collect
        orders = read_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
        li = read_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
        return li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
            F.col("o_custkey").alias("src"), (-F.col("l_suppkey") - 1).alias("dst")
        ).toPandas()

    # both sides read with the tables' schemas already memoized, so neither
    # count includes a schema-inference job
    read_table(spark, SF_DIR, "orders")
    read_table(spark, SF_DIR, "lineitem")
    _, collect_jobs = count_jobs(spark, collect_raw_edges)
    _, jobs = count_jobs(spark, lambda: pagerank_det(spark, SF_DIR))
    assert jobs == collect_jobs
    tiers(False)
    _, jobs_off = count_jobs(spark, lambda: pagerank_det(spark, SF_DIR))
    assert jobs_off > jobs  # the distributed build materializes checkpoints
