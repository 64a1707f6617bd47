"""Dataset maintenance: small-file compaction (operators/maintenance.py)
and the missing-partition audit."""

import glob

import pyspark.sql.functions as F

from conftest import SF_DIR
from hadoop_data_lake_spark.operators.maintenance import compact_dataset


def _parquet_files(root: str) -> list[str]:
    return glob.glob(f"{root}/**/*.parquet", recursive=True)


def test_compact_partitioned_in_place(spark, tmp_path):
    root = str(tmp_path / "frag")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 4).alias("d"),
        (F.col("id") * 2).alias("v"),
    )
    # fragment: 8 writer tasks per Hive partition
    df.repartition(8).write.partitionBy("d").parquet(root)
    assert len(_parquet_files(root)) >= 24

    compacted = compact_dataset(spark, root, partition_by="d")
    files = _parquet_files(root)
    # one file per Hive partition
    assert len(files) == 4
    assert compacted.count() == 2000
    assert compacted.agg(F.sum("v")).first()[0] == sum(i * 2 for i in range(2000))


def test_compact_respects_max_records_per_file(spark, tmp_path):
    root = str(tmp_path / "frag2")
    spark.range(1000).select(F.col("id"), (F.col("id") % 2).alias("d")).repartition(
        6
    ).write.partitionBy("d").parquet(root)
    compact_dataset(spark, root, partition_by="d", max_records_per_file=100)
    # 500 rows per partition / 100-row cap -> >= 5 files each, but far fewer
    # than row count (the cap splits, it doesn't fragment)
    files = _parquet_files(root)
    assert 10 <= len(files) <= 14


def test_compact_flat_to_out_root(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.range(500).repartition(10).write.parquet(src)
    assert len(_parquet_files(src)) == 10
    out = compact_dataset(spark, src, out_root=dst)
    assert len(_parquet_files(dst)) == 1
    assert out.count() == 500
    # source untouched
    assert len(_parquet_files(src)) == 10


def test_write_audit_publish_gates_bad_snapshots(spark, tmp_path):
    """WAP: a snapshot failing its audit must never become CURRENT; a
    passing one publishes atomically; the rejected generation stays on
    disk, marked, for inspection."""
    import os

    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.operators.maintenance import write_audit_publish
    from hadoop_data_lake_spark.streaming.ingest import read_table_generation

    target = str(tmp_path / "wap_t")
    good = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    expectations = {
        "nonempty": lambda df: df.count() > 0,
        "no_null_keys": lambda df: df.where(F.col("k").isNull()).count() == 0,
        "v_is_even": lambda df: df.where(F.col("v") % 2 != 0).count() == 0,
    }
    r1 = write_audit_publish(spark, good, target, expectations)
    assert r1["published"] and all(r1["audit"].values())
    assert read_table_generation(spark, target).count() == 100

    bad = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2 + 1).alias("v"))
    r2 = write_audit_publish(spark, bad, target, expectations)
    assert not r2["published"] and not r2["audit"]["v_is_even"]
    # CURRENT still names the good snapshot
    assert read_table_generation(spark, target).count() == 100
    # rejected dir retained and marked
    assert os.path.exists(os.path.join(target, r2["generation"], "REJECTED"))

    good2 = good.where(F.col("k") < 50)
    r3 = write_audit_publish(spark, good2, target, expectations)
    assert r3["published"]
    assert read_table_generation(spark, target).count() == 50


def test_missing_partition_audit_finds_planted_gaps(spark, tmp_path):
    """Drop two date ranges from a copy of events; the audit must report
    exactly those runs with correct lengths (and nothing on the intact
    table — covered by the oracle's empty result)."""
    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.events_queries import missing_partition_audit
    from pyspark.sql import functions as F

    ev = read_table(spark, SF_DIR, "events")
    days = sorted(
        r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    holes = {days[3], days[4], days[10]}  # one 2-day run + one 1-day run
    holed = ev.where(~F.to_date("ts").isin(list(holes)))
    out = str(tmp_path / "events.parquet")
    holed.write.parquet(out)
    # the audit reads via read_table(sf_dir, "events") => point sf_dir at tmp
    import shutil, os
    sfdir = str(tmp_path / "sf")
    os.makedirs(sfdir)
    # single-file layout expected: write directly under sf/events.parquet
    holed.coalesce(1).write.mode("overwrite").parquet(os.path.join(sfdir, "events.parquet"))
    got = {
        (r["gap_start"], r["gap_end"], r["n_days_missing"])
        for r in missing_partition_audit(spark, sfdir).collect()
    }
    assert got == {
        (str(days[3]), str(days[4]), 2),
        (str(days[10]), str(days[10]), 1),
    }
