import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from gen import ID_SPACES, REF_DIR, TABLES, derive, generate
from workloads import WORKLOADS

#: Spark type of each contract column -> the Parquet column type that
#: `core.io.read_table` turns into it.
ARROW_OF = {
    "int": "int32",
    "bigint": "int64",
    "double": "double",
    "string": "string",
    "timestamp": "timestamp[us]",
    "timestamp_ntz": "timestamp[us]",
    "array<float>": "list<element: float>",
}


@pytest.fixture(scope="module")
def ref():
    return {t: pq.read_table(os.path.join(REF_DIR, f"{t}.parquet")) for t in TABLES}


def group_sizes(table, column):
    """Sorted group sizes of `column`: unchanged by any bijection of its ids."""
    return sorted(pc.value_counts(table[column]).field("counts").to_pylist())


def sorted_rows(table, skip=()):
    cols = [c for c in table.column_names if c not in skip]
    return sorted(zip(*(table[c].to_pylist() for c in cols)), key=repr)


def test_same_seed_gives_identical_files(tmp_path):
    a = generate(str(tmp_path / "a"), 7)
    b = generate(str(tmp_path / "b"), 7)
    assert {t: m["sha256"] for t, m in a.items()} == {t: m["sha256"] for t, m in b.items()}
    assert set(a) == set(TABLES)


def test_other_seed_changes_every_table(tmp_path):
    a = generate(str(tmp_path / "a"), 7)
    b = generate(str(tmp_path / "b"), 8)
    # region (5 rows) may draw the same order under two seeds
    assert all(a[t]["sha256"] != b[t]["sha256"] for t in TABLES if a[t]["rows"] > 5)


def test_seed_only_reorders_rows_and_relabels_ids(ref):
    got = derive(3)
    id_cols = {}
    for cols in ID_SPACES.values():
        for t, c in cols:
            id_cols.setdefault(t, set()).add(c)
    for t in TABLES:
        assert got[t].num_rows == ref[t].num_rows
        assert got[t].schema == ref[t].schema
        skip = id_cols.get(t, set())
        # the non-id columns hold exactly the reference rows
        assert sorted_rows(got[t], skip) == sorted_rows(ref[t], skip), t
    assert got["lineitem"]["l_orderkey"].to_pylist() != ref["lineitem"]["l_orderkey"].to_pylist()


def test_id_remap_is_a_bijection_applied_to_every_reference(ref):
    got = derive(5)
    for space, ((key_table, key), *_) in ID_SPACES.items():
        # the key column keeps its id set ...
        assert set(got[key_table][key].to_pylist()) == set(ref[key_table][key].to_pylist()), space
    for cols in ID_SPACES.values():
        # ... and every id column keeps its group sizes
        for t, c in cols:
            assert group_sizes(got[t], c) == group_sizes(ref[t], c), c
    # foreign keys still resolve: the lineitem -> orders -> customer join
    # keeps its fan-out, and each order keeps its own lines
    orders = dict(zip(got["orders"]["o_orderkey"].to_pylist(), got["orders"]["o_totalprice"].to_pylist()))
    ref_orders = dict(zip(ref["orders"]["o_orderkey"].to_pylist(), ref["orders"]["o_totalprice"].to_pylist()))
    got_prices = sorted(orders[k] for k in got["lineitem"]["l_orderkey"].to_pylist() if k in orders)
    ref_prices = sorted(ref_orders[k] for k in ref["lineitem"]["l_orderkey"].to_pylist() if k in ref_orders)
    assert got_prices == ref_prices


@pytest.mark.parametrize(
    "table, key, value",
    [("events", "event_id", "ts"), ("documents", "doc_id", "text"), ("embeddings", "vec_id", "label")],
)
def test_ids_the_engine_reads_as_metadata_keep_their_rows(ref, table, key, value):
    got = derive(2)[table]
    assert got[key].to_pylist() != ref[table][key].to_pylist()  # reordered
    by_id = dict(zip(got[key].to_pylist(), got[value].to_pylist()))
    assert by_id == dict(zip(ref[table][key].to_pylist(), ref[table][value].to_pylist()))


def test_tables_match_the_engine_schema_contract(tmp_path):
    from hadoop_data_lake_spark.core.io import SCHEMAS

    manifest = generate(str(tmp_path), 1)
    for name, contract in SCHEMAS.items():
        schema = pq.read_schema(tmp_path / f"{name}.parquet")
        got = [(f.name, str(f.type)) for f in schema]
        want = [(f.name, ARROW_OF[f.dataType.simpleString()]) for f in contract.fields]
        assert got == want, name
        assert manifest[name]["rows"] == pq.ParquetFile(tmp_path / f"{name}.parquet").metadata.num_rows


@pytest.mark.parametrize("wl", sorted(WORKLOADS))
def test_workload_steps_are_engine_entry_points(wl):
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    w = WORKLOADS[wl]
    assert set(w.datamarts) <= set(w.steps)
    assert all(s in REGISTRY for s in w.steps)  # each has a DuckDB oracle
