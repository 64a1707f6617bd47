"""Parquet IO with partition-pruning-friendly reads.

Replaces the reference's manual `date=YYYY-MM-DD` path-list construction
(reference: src/scripts/save_mes_geo.py:16-22) with a root-path read plus a
partition-column filter: Catalyst's PruneFileSourcePartitions then prunes the
same directories, but the filter also composes with column pruning and
predicate pushdown instead of living outside the plan.

At 100 TB the difference matters: a path-list read pins the file listing to
the driver up front; a root read + partition filter lets the catalog/file
index (or a metastore) do the listing, and AQE sizes the scan tasks.
"""

from __future__ import annotations

import datetime as _dt
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _st(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


#: Explicit per-table schema contracts (SURVEY.md §1.4): the post-
#: normalization schema every operator in this package assumes. `read_table`
#: validates against these on every read (names + types, schema-only — no
#: data scan), so upstream drift fails loudly at the source instead of as a
#: wrong join/agg result three operators downstream.
SCHEMAS: dict[str, T.StructType] = {
    "region": _st(("r_regionkey", T.IntegerType()), ("r_name", T.StringType())),
    "nation": _st(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _st(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _st(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _st(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _st(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampNTZType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _st(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampNTZType()),
    ),
    "events": _st(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
    "documents": _st(
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ),
    "embeddings": _st(
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", T.IntegerType()),
    ),
}


class SchemaContractError(ValueError):
    """A table's on-disk schema does not match its SCHEMAS contract."""


def validate_schema(df: DataFrame, name: str) -> DataFrame:
    """Check `df` against SCHEMAS[name] (names + types, order-sensitive;
    nullability intentionally ignored — parquet writers disagree about it
    and no operator here relies on it). Raises SchemaContractError with a
    field-level diff. Schema-only: never triggers a scan or a job."""
    contract = SCHEMAS[name]
    actual = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    expected = [(f.name, f.dataType.simpleString()) for f in contract.fields]
    if actual != expected:
        diff = [
            f"  field {i}: expected {e}, got {a}"
            for i, (e, a) in enumerate(
                zip(expected + [("<missing>", "")] * len(actual),
                    actual + [("<missing>", "")] * len(expected))
            )
            if e != a
        ]
        raise SchemaContractError(
            f"table {name!r} violates its schema contract:\n" + "\n".join(diff)
        )
    return df


def read_table(
    spark: SparkSession, sf_dir: str, name: str, validate: bool = True
) -> DataFrame:
    """Read one driver-generated table (TESTDATA.md layout), validated
    against its SCHEMAS contract on every call (pass validate=False for
    exploratory reads of files that deliberately deviate).

    The file is opened through `read_parquet`, so a repeat read of an
    unchanged local file reuses Spark's inferred schema and runs no
    schema-inference job; normalization and validation still run on
    every read.

    The events table's `ts` encoding has drifted across driver testdata
    generations — TIMESTAMP(NANOS) in one vintage (Spark 4 has no native
    type for it; read nanos-as-long and truncate to micros, the same
    truncation DuckDB applies), plain `timestamp[us]` without timezone
    metadata in another (Spark 4 reads that as TIMESTAMP_NTZ). Both flavors
    are normalized to TimestampType here; everything downstream (the schema
    contract, event-time watermarks, DuckDB oracle comparison) sees one
    canonical type.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = normalize_ns_ts(read_parquet(spark, f"{sf_dir}/{name}.parquet"))
    return validate_schema(df, name) if validate else df


#: Confs whose values change the schema Spark infers from a Parquet footer;
#: their values are part of the `parquet_schema` memo key.
PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: Entries `parquet_schema` keeps; the oldest is dropped past this.
SCHEMA_MEMO_MAX = 64

_SCHEMA_MEMO: dict[tuple, T.StructType] = {}
_SCHEMA_MEMO_LOCK = threading.Lock()


def parquet_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """Spark's own inferred schema of the local Parquet FILE at `path`,
    memoized, or None when `path` is not memoizable.

    Inferring a Parquet schema is a Spark job (`ParquetUtils.inferSchema`
    merges footers in parallel, even for one file); reading with the
    schema given runs none. The memo key is the file's absolute path,
    inode, `st_mtime_ns` and `st_size`, plus the values of
    `PARQUET_INFERENCE_CONFS`, so a rewritten file or a changed inference
    conf is inferred afresh. Only local single files are memoized:
    directories, remote URIs and paths that cannot be stat'ed return None,
    and the caller infers as usual. The memo holds at most
    `SCHEMA_MEMO_MAX` entries.
    """
    import os
    import stat

    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    key = (
        os.path.abspath(path), st.st_ino, st.st_mtime_ns, st.st_size,
        *(spark.conf.get(k) for k in PARQUET_INFERENCE_CONFS),
    )
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _SCHEMA_MEMO_LOCK:
            if key not in _SCHEMA_MEMO and len(_SCHEMA_MEMO) >= SCHEMA_MEMO_MAX:
                del _SCHEMA_MEMO[next(iter(_SCHEMA_MEMO))]
            _SCHEMA_MEMO[key] = schema
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, with the schema from `parquet_schema`
    when the path is memoizable (no inference job on a repeat read) and
    plain inference otherwise."""
    schema = parquet_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def normalize_ns_ts(df: DataFrame) -> DataFrame:
    """Normalize every known on-disk flavor of the `ts` column to a
    microsecond TimestampType:

    - nanos-as-long (`bigint`, from TIMESTAMP(NANOS) parquet): floor-divide
      to micros — the same truncation DuckDB applies to NANOS parquet.
    - `timestamp_ntz` (timezone-less `timestamp[us]` parquet): cast to
      TimestampType. The session timezone is pinned to UTC
      (core/session.py), so the cast reinterprets the naive value as the
      identical UTC instant — matching DuckDB's naive-timestamp semantics —
      and restores watermark eligibility (event time must be TIMESTAMP,
      not TIMESTAMP_NTZ).
    """
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif f.name == "ts" and f.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions than
    the session's parallelism.

    Small parquet files (single row group) arrive as one partition, which
    serializes any compute-heavy projection downstream (hashing, shingling,
    vector math). At real scale inputs already have >= cores partitions, so
    this is a no-op there — the shuffle is only paid exactly when it buys
    full-core utilization on small inputs.
    """
    sess = df.sparkSession
    target = min_partitions or sess.sparkContext.defaultParallelism
    # Estimate the scan's partition count from optimizer stats instead of
    # df.rdd.getNumPartitions(): the stats call is analysis-only (no
    # physical planning, no Python<->JVM RDD materialization per call).
    # TODO: df._jdf is a private classic-API handle and does not exist under
    # Spark Connect — the except branch below already covers that case, but
    # a Connect-native stats source should replace this when one lands.
    # ceil(sizeInBytes / maxPartitionBytes) is exact for large-file scans
    # and an UNDERestimate for many-small-files inputs — which only makes
    # this trigger a coalescing repartition of already-small data, never
    # skips a needed one.
    try:
        raw = sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        digits = "".join(ch for ch in raw if ch.isdigit())
        max_pb = int(digits) if digits else 128 * 1024 * 1024
        if raw.lower().endswith(("k", "kb")):
            max_pb *= 1024
        elif raw.lower().endswith(("m", "mb")):
            max_pb *= 1024 * 1024
        elif raw.lower().endswith(("g", "gb")):
            max_pb *= 1024 * 1024 * 1024
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().toString()
        )
        est_partitions = max(1, -(-size // max_pb))
    except Exception:  # stats unavailable (e.g. connect-only session)
        est_partitions = df.rdd.getNumPartitions()
    if est_partitions < target:
        return df.repartition(target)
    return df


def read_partitioned(
    spark: SparkSession,
    root: str,
    partition_col: str = "date",
    start: str | _dt.date | None = None,
    end: str | _dt.date | None = None,
) -> DataFrame:
    """Read a Hive-partitioned dataset root, pruning partitions by range.

    Equivalent semantics to the reference's input_paths() date/depth path
    enumeration (save_mes_geo.py:16-22) but expressed declaratively so the
    pruning shows up in the plan (PartitionFilters) instead of in the path
    list. `basePath` keeps the partition column in the schema.
    """
    df = spark.read.option("basePath", root).parquet(root)
    if start is not None:
        df = df.where(F.col(partition_col) >= F.lit(str(start)))
    if end is not None:
        df = df.where(F.col(partition_col) <= F.lit(str(end)))
    return df


FORMATS = ("parquet", "orc", "csv", "json")


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
) -> DataFrame:
    """Read `path` in any supported format.

    Parquet/ORC are the columnar primaries (README.md:8 rationale: fastest in
    Spark, vectorized reader, predicate pushdown). CSV/JSON are ingest-edge
    formats: schema should be passed explicitly (schema-on-read contract) —
    inference costs an extra pass and types drift.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        reader = reader.option("inferSchema", "true")
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
    **options: str,
) -> None:
    """Write `df` to `path` in any supported format (overwrite by default)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
    writer.save(path)


def write_overwrite(df: DataFrame, path: str, partition_by: str | list[str] | None = None) -> None:
    """Overwrite-sink (reference S4/S5: save_mes_geo.py:50,
    calculate_zone_report.py:60 partitionBy week).

    Dynamic partition overwrite so a rerun of one week's data doesn't wipe
    sibling partitions — the safe default for a periodically-refreshed
    datamart at scale.
    """
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
    writer.parquet(path)


def register_tables(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every driver table as a temp view so the whole engine surface
    is reachable from `spark.sql(...)` — the SQL catalog layer the reference
    lacks (every query there is a hard-coded script; SURVEY.md §3). Views are
    lazy: registering costs one schema read per table, no data scan."""
    for t in tables:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


#: Value range of each integral Spark type, for `local_frame`'s check.
_INT_RANGES = {
    T.ByteType: (-(1 << 7), (1 << 7) - 1),
    T.ShortType: (-(1 << 15), (1 << 15) - 1),
    T.IntegerType: (-(1 << 31), (1 << 31) - 1),
    T.LongType: (-(1 << 63), (1 << 63) - 1),
}


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-built literal frame via ONE pandas/Arrow batch.

    Row-based ``createDataFrame(list_of_tuples)`` pays a fixed
    ~0.3-0.5 s per call (per-row schema verification + a pickled-row
    parallelize job) REGARDLESS of row count, vs ~0.13-0.19 s for a
    pandas batch under Arrow — real money for the dozens of small
    scaffolding frames (quantile targets, shift lattices, report rows)
    built once per query invocation.

    ``rows`` is a list of tuples or a pandas frame (a driver tier's
    result; `core.driver_tier` declines NULL inputs, so it goes straight
    to Arrow with no per-row scan). ``schema`` is a DDL string or
    StructType and stays the declared contract either way: on the Arrow
    path every integral column is range-checked against its field's
    width and a value that does not fit raises ValueError (Arrow would
    wrap it when `spark.sql.execution.pandas.convertToArrowArraySafely`
    is off). An empty row list and rows carrying ``None`` fall back to
    the row path, which verifies every value itself: pandas would route
    NULL-carrying integral columns through float64 and has nothing to
    infer from zero rows.
    """
    import pandas as pd

    is_pdf = isinstance(rows, pd.DataFrame)
    if not is_pdf and (not rows or any(v is None for r in rows for v in r)):
        return spark.createDataFrame(rows, schema)
    st = T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    pdf = rows if is_pdf else pd.DataFrame(rows, columns=[f.name for f in st.fields])
    for f, col in zip(st.fields, pdf.columns):
        bounds = _INT_RANGES.get(type(f.dataType))
        if bounds is None or pdf.empty:
            continue
        lo, hi = bounds
        vmin, vmax = pdf[col].min(), pdf[col].max()
        if vmin < lo or vmax > hi:
            bad = vmin if vmin < lo else vmax
            raise ValueError(
                f"local_frame: column {f.name!r} value {bad} does not fit "
                f"{f.dataType.simpleString()} [{lo}, {hi}]"
            )
    return spark.createDataFrame(pdf, st)


def checkpoint_serialized(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint at MEMORY_AND_DISK (the SERIALIZED level) —
    for UNBOUNDED index frames: inverted shingle indexes, edge metadata,
    snapshot projections. Measured on the sf0.1 shingle index: 4.2 MB
    serialized vs 26.5 MB at the deserialized default (6.3x), so 6x more
    of the index survives in executor memory before eviction at scale;
    the disk path stores serialized blocks either way, so spill behavior
    is unchanged. Keep the deserialized default for small BOUNDED frames
    on latency-critical paths (grain aggregates, per-iteration rank
    frames) where repeated deserialization costs more than the footprint
    saves."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)


#: Footer-read budget for `parquet_row_count`: past this many files the
#: function answers None and the caller has no bound (a driver tier then
#: probes instead) — a table whose rows are spread over thousands of files
#: AND still under the caller's cap is pathological, while the common
#: 100 TB case (many files, many rows) exits on the cap within the first
#: footer or two.
PARQUET_COUNT_MAX_FOOTERS = 4096

#: `parquet_row_count`'s answer when the footers read so far already sum
#: past the caller's ``cap``: +inf, above every cap, so each bound check
#: (`collect_bounded`, the PageRank/HITS envelopes, broadcast caps)
#: declines on it, and it is never mistaken for a row count.
OVER_CAP = float("inf")


def parquet_row_count(
    sf_dir: str, name: str, cap: int | None = None
) -> int | float | None:
    """Row count of a driver table from its parquet FOOTERS —
    driver-local metadata reads, no Spark job.

    The fused driver tiers (graph.hits_topk_sides_driver /
    pagerank_distinct_driver) take a sound upper bound on a fact table's
    row count as their `core.driver_tier.collect_bounded` bound; footer
    ``num_rows`` is that exact number read straight off the files,
    without the scheduler round-trip of a Spark ``count()``. Returns
    ``None`` when the layout is unreadable (missing path, non-parquet,
    remote filesystem without local access) or has more than
    ``PARQUET_COUNT_MAX_FOOTERS`` files; the listing itself stops one
    file past that guard.

    ``cap`` bounds the driver-side metadata work at scale: callers that
    only need to DECIDE "is the table under my collect budget?" pass
    their cap, and the loop stops reading footers as soon as the running
    sum exceeds it. With ``cap``, the return value is the exact count
    when it is <= ``cap``, and otherwise ``OVER_CAP`` — never the partial
    sum, which is only a LOWER bound and would pass the check of a gate
    whose own limit is above ``cap``.
    """
    import glob
    import itertools
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            files = [path]
        elif os.path.isdir(path):
            # the listing stops one file past the guard: a table with more
            # files answers None without being listed in full
            found = glob.iglob(os.path.join(path, "**", "*.parquet"), recursive=True)
            files = sorted(itertools.islice(found, PARQUET_COUNT_MAX_FOOTERS + 1))
        else:
            return None
        if not files or len(files) > PARQUET_COUNT_MAX_FOOTERS:
            return None
        total = 0
        for f in files:
            total += pq.ParquetFile(f).metadata.num_rows
            if cap is not None and total > cap:
                return OVER_CAP
        return total
    except Exception:
        return None
