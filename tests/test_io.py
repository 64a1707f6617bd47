"""IO surface: format round-trips, partitioned writes, partition pruning.

Covers SURVEY.md §2.1 S1-S5 (parquet scans/sinks, partition enumeration ->
declarative pruning) plus the ORC/CSV/JSON extension formats, the Parquet
schema memo behind `read_table`, and `local_frame`'s range check.
"""

import pyspark.sql.functions as F
import pytest
from conftest import count_jobs

from hadoop_data_lake_spark.core import io as IO
from hadoop_data_lake_spark.core.io import (
    read_any,
    read_partitioned,
    write_any,
    write_overwrite,
)


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame(
        [
            (1, "2024-01-01", 10.5, "a"),
            (2, "2024-01-01", 20.0, "b"),
            (3, "2024-01-02", 30.25, "a"),
            (4, "2024-01-03", 40.0, "c"),
        ],
        "id long, date string, amount double, tag string",
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_format_round_trip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / f"data_{fmt}")
    write_any(sample, path, fmt=fmt)
    back = read_any(spark, path, fmt=fmt, schema=sample.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))


def test_partitioned_write_layout_and_pruning(spark, sample, tmp_path):
    root = str(tmp_path / "part_ds")
    write_overwrite(sample, root, partition_by="date")
    # Hive layout on disk
    import os

    assert sorted(d for d in os.listdir(root) if d.startswith("date=")) == [
        "date=2024-01-01",
        "date=2024-01-02",
        "date=2024-01-03",
    ]
    pruned = read_partitioned(spark, root, "date", start="2024-01-01", end="2024-01-02")
    assert pruned.count() == 3
    # the range filter must reach the scan as a PartitionFilter (S2's
    # declarative replacement for path-list enumeration)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "date" in plan


def test_dynamic_partition_overwrite_preserves_siblings(spark, sample, tmp_path):
    root = str(tmp_path / "dyn_ds")
    write_overwrite(sample, root, partition_by="date")
    # overwrite ONLY 2024-01-01 with one replacement row
    patch = spark.createDataFrame(
        [(99, "2024-01-01", 1.0, "z")], "id long, date string, amount double, tag string"
    )
    write_overwrite(patch, root, partition_by="date")
    back = spark.read.parquet(root)
    # the partition column is type-inferred from the directory names (dates
    # here) — compare on the string form
    by_date = {
        str(r["date"]): r["n"]
        for r in back.groupBy("date").agg(F.count("*").alias("n")).collect()
    }
    # sibling partitions survive the rerun (dynamic overwrite semantics)
    assert by_date == {"2024-01-01": 1, "2024-01-02": 1, "2024-01-03": 1}


def test_csv_header_and_projection_pushdown(spark, sample, tmp_path):
    path = str(tmp_path / "csv_ds")
    write_any(sample, path, fmt="csv")
    back = read_any(spark, path, fmt="csv", schema="id long, date string, amount double, tag string")
    two_cols = back.select("id", "amount")
    plan = two_cols._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    assert two_cols.count() == 4


def test_register_tables_sql_entry_point(spark):
    from hadoop_data_lake_spark.core.io import register_tables

    register_tables(spark, "/root/testdata/sf0.001")
    out = spark.sql(
        """
        SELECT r_name, count(*) AS n_nations
        FROM region JOIN nation ON r_regionkey = n_regionkey
        GROUP BY r_name ORDER BY r_name
        """
    ).collect()
    assert sum(r["n_nations"] for r in out) == 25
    # events view readable with normalized timestamps
    assert spark.sql("SELECT count(*) n FROM events WHERE ts IS NOT NULL").collect()[0]["n"] > 0


def test_schema_contracts_validate_every_table(spark):
    from hadoop_data_lake_spark.core.io import SCHEMAS, TABLES, read_table

    assert set(SCHEMAS) == set(TABLES)
    for t in TABLES:  # validate=True is the default; must not raise
        read_table(spark, "/root/testdata/sf0.001", t)


def test_schema_contract_mismatch_fails_loudly(spark, tmp_path):
    from hadoop_data_lake_spark.core.io import (
        SchemaContractError,
        read_table,
        validate_schema,
    )

    # wrong type: r_regionkey written as bigint instead of int
    bad = spark.createDataFrame([(1, "AFRICA")], "r_regionkey long, r_name string")
    with pytest.raises(SchemaContractError, match="r_regionkey"):
        validate_schema(bad, "region")
    # missing column
    bad2 = spark.createDataFrame([(1,)], "r_regionkey int")
    with pytest.raises(SchemaContractError, match="region"):
        validate_schema(bad2, "region")
    # a deviating file still readable with validate=False
    bad.write.parquet(str(tmp_path / "region.parquet"))
    df = read_table(spark, str(tmp_path), "region", validate=False)
    assert df.count() == 1
    with pytest.raises(SchemaContractError):
        read_table(spark, str(tmp_path), "region")


def test_schema_evolution_merge_read(spark, tmp_path):
    """Data-lake schema evolution: files written before a column was added
    must still read alongside newer files — mergeSchema unions the file
    schemas and backfills the missing column with NULL (per-file column
    pruning still applies: old files never materialize the new column)."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    v1.write.mode("overwrite").parquet(root + "/batch=1")
    v2 = spark.createDataFrame(
        [(3, "c", 30.0), (4, "d", 40.0)], "id long, name string, score double"
    )
    v2.write.mode("overwrite").parquet(root + "/batch=2")

    merged = read_any(spark, root, fmt="parquet", mergeSchema="true")
    assert set(merged.columns) == {"id", "name", "score", "batch"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[3]["score"] == 30.0
    # evolved-column aggregation skips NULL backfill rows, not files
    assert merged.agg(F.count("score")).collect()[0][0] == 2


def test_parquet_row_count_listing_stops_past_the_guard(tmp_path, monkeypatch):
    """A table with more files than the footer guard answers None after
    listing one file past the guard and reading no footer at all."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_data_lake_spark.core import io as IO

    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    for i in range(10):
        pq.write_table(pa.table({"x": [i]}), str(table_dir / f"part-{i:05d}.parquet"))

    listed, footers = [], []
    real_iglob, real_file = glob.iglob, pq.ParquetFile

    def counting_iglob(*a, **kw):
        for path in real_iglob(*a, **kw):
            listed.append(path)
            yield path

    def counting_file(path, *a, **kw):
        footers.append(path)
        return real_file(path, *a, **kw)

    monkeypatch.setattr(glob, "iglob", counting_iglob)
    monkeypatch.setattr(pq, "ParquetFile", counting_file)
    monkeypatch.setattr(IO, "PARQUET_COUNT_MAX_FOOTERS", 3)
    assert IO.parquet_row_count(str(tmp_path), "t") is None
    assert len(listed) == 4  # guard + 1, not all 10
    assert footers == []
    # under the guard the same table is listed in full and counted exactly
    monkeypatch.setattr(IO, "PARQUET_COUNT_MAX_FOOTERS", 10)
    listed.clear()
    assert IO.parquet_row_count(str(tmp_path), "t") == 10
    assert len(listed) == 10 and len(footers) == 10


def test_parquet_row_count_over_cap_is_no_bound(spark, tmp_path):
    """When the first footer of a two-file table already exceeds ``cap``,
    the answer is OVER_CAP, not the partial sum (5, a lower bound): a gate
    whose own limit is above ``cap`` must decline on it without running a
    Spark job, where the partial sum would pass its check."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_data_lake_spark.core import driver_tier as DT
    from hadoop_data_lake_spark.core import io as IO
    from hadoop_data_lake_spark.operators.graph import broadcast_bounded_state

    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    for i in range(2):
        pq.write_table(
            pa.table({"x": pa.array(range(5 * i, 5 * i + 5), pa.int64())}),
            str(table_dir / f"part-{i:05d}.parquet"),
        )
    assert IO.parquet_row_count(str(tmp_path), "t") == 10
    bound = IO.parquet_row_count(str(tmp_path), "t", cap=3)
    assert bound is IO.OVER_CAP
    df = spark.read.parquet(str(table_dir))
    out, jobs = count_jobs(spark, lambda: DT.collect_bounded(df, max_rows=100, bound=bound))
    assert out is None and jobs == 0
    assert broadcast_bounded_state(df, bound) is df


def test_read_table_reuses_the_inferred_schema_of_an_unchanged_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_data_lake_spark.core.io import read_table

    path = tmp_path / "region.parquet"
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["A", "B"]}),
        str(path),
    )
    _, first = count_jobs(spark, lambda: read_table(spark, str(tmp_path), "region"))
    df, second = count_jobs(spark, lambda: read_table(spark, str(tmp_path), "region"))
    assert first >= 1  # Spark's own schema inference
    assert second == 0
    assert sorted(r["r_regionkey"] for r in df.collect()) == [0, 1]


def test_read_table_reinfers_a_rewritten_file_and_still_validates(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_data_lake_spark.core.io import SchemaContractError, read_table

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([1], pa.int32()), "r_name": ["A"]}), path)
    assert read_table(spark, str(tmp_path), "region").schema["r_regionkey"].dataType.simpleString() == "int"
    # same path, another schema: the memo must not serve the old one
    pq.write_table(pa.table({"r_regionkey": pa.array([1], pa.int64()), "r_name": ["A"]}), path)
    df = read_table(spark, str(tmp_path), "region", validate=False)
    assert df.schema["r_regionkey"].dataType.simpleString() == "bigint"
    assert df.collect()[0]["r_regionkey"] == 1
    for _ in range(2):  # the contract is checked on every read, memo or not
        with pytest.raises(SchemaContractError, match="r_regionkey"):
            read_table(spark, str(tmp_path), "region")


def test_parquet_schema_key_covers_the_inference_confs(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_data_lake_spark.core.io import parquet_schema

    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert parquet_schema(spark, path)["b"].dataType.simpleString() == "binary"
        spark.conf.set(key, "true")
        assert parquet_schema(spark, path)["b"].dataType.simpleString() == "string"
    finally:
        spark.conf.set(key, prev)


def test_parquet_schema_memoizes_only_local_files(spark, sample, tmp_path):
    from hadoop_data_lake_spark.core import io as IO

    root = str(tmp_path / "dir.parquet")
    sample.write.parquet(root)
    before = dict(IO._SCHEMA_MEMO)
    assert IO.parquet_schema(spark, root) is None
    assert IO.parquet_schema(spark, "hdfs://nowhere/x.parquet") is None
    assert IO.parquet_schema(spark, str(tmp_path / "missing.parquet")) is None
    assert IO._SCHEMA_MEMO == before
    back = IO.read_parquet(spark, root)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))


def test_parquet_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_data_lake_spark.core import io as IO

    monkeypatch.setattr(IO, "_SCHEMA_MEMO", {})
    monkeypatch.setattr(IO, "SCHEMA_MEMO_MAX", 2)
    for i in range(3):
        path = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"x": [i]}), path)
        IO.parquet_schema(spark, path)
    assert len(IO._SCHEMA_MEMO) == 2
    assert {k[0] for k in IO._SCHEMA_MEMO} == {str(tmp_path / "f1.parquet"), str(tmp_path / "f2.parquet")}


def test_local_frame_rejects_values_that_do_not_fit_the_field(spark):
    """With Arrow's safe conversion off, an int64 value cast to INT wraps
    (2**31 -> -2**31); local_frame range-checks before Arrow instead."""
    import pandas as pd

    from hadoop_data_lake_spark.core.io import local_frame

    key = "spark.sql.execution.pandas.convertToArrowArraySafely"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        with pytest.raises(ValueError, match="'x'"):
            local_frame(spark, [(2**31, 1)], "x int, y int")
        with pytest.raises(ValueError, match="'y'"):
            local_frame(spark, [(1, -129)], "x long, y byte")
        with pytest.raises(ValueError, match="'x'"):
            local_frame(spark, pd.DataFrame({"x": [2**31]}), "x int")
        edge = local_frame(spark, [(2**31 - 1, -(2**31), 2**31)], "a int, b int, c long")
        assert tuple(edge.collect()[0]) == (2**31 - 1, -(2**31), 2**31)
    finally:
        spark.conf.set(key, prev)


# ---------------------------------------------- parquet_row_count cap
# The footer loop stops as soon as the running sum exceeds the caller's
# cap and answers None past the file-count guard, so callers fall back to
# the Spark count.


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
