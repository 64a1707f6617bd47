"""Sequence packing planner (concat-and-chunk) for LLM pretraining data.

Concat-and-chunk packing concatenates all documents' tokens in a
deterministic order and cuts the stream every `context_len` tokens. The
plan for it is a GLOBAL prefix sum of token counts — and a naive
`Window.orderBy(...)` with no partitionBy is a single-task stage (every row
through one reducer), the classic cumsum scale-killer.

`token_prefix_sum` implements the scalable two-phase prefix sum instead:

1. range-repartition by the order key (disjoint sorted ranges per
   partition — the same machinery orderBy uses, minus the global merge);
2. per-partition running sum via a Window PARTITIONED by
   spark_partition_id() (parallel, whole-stage codegen);
3. per-partition totals (one tiny collect, <= #partitions rows) turned
   into broadcast offsets added to the local sums.

Output values are independent of where the sampled range boundaries land —
offsets correct any split — so results are deterministic for a unique
order key even though RangePartitioner samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_lake_spark.core import driver_tier as DT
from hadoop_data_lake_spark.core.io import local_frame


def _prefix_agg_driver(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: dict[str, str],
    max_cols: dict[str, str],
    n_rows_bound: int | None = None,
):
    """Driver tier for `prefix_agg`: one bounded collect
    (`core.driver_tier`) + numpy cumsum/cummax instead of
    range-repartition + window + checkpoint + totals collect + offset map
    (4 jobs and an exchange for what is, on every current caller, a
    dimension-bounded frame).

    Exactness: the contract requires `order_cols` to be a total order, so
    one stable driver-side sort reproduces the distributed row order;
    integer running sums are order-independent and checked against an
    int64 overflow envelope; running max does no arithmetic at all.

    Beyond the gate's own declines, the tier's types are: integral sum
    inputs (float sums are order-dependent in the low bits), order
    columns whose Python and Spark orderings agree (integral, string,
    date, timestamp), and max inputs of those or floating types. NULLs
    decline in every involved column (window aggregates skip them) and
    in passthrough integral columns (pandas would round-trip them through
    float64, losing >= 2^53 precision). ``n_rows_bound`` is the gate's
    sound bound.
    """
    import numpy as np

    order_ok = DT.INTEGRAL + (T.StringType, T.DateType, T.TimestampType)
    # each later role's types are a subset of the earlier one's, so a
    # column in several roles keeps the intersection
    types = {c: order_ok + (T.FloatType, T.DoubleType) for c in max_cols.values()}
    types.update({c: order_ok for c in order_cols})
    types.update({c: DT.INTEGRAL for c in sum_cols.values()})
    schema = {f.name: f.dataType for f in df.schema.fields}
    pdf = DT.collect_bounded(
        df,
        max_rows=DT.MAX_ROWS,
        bound=n_rows_bound,
        types=types,
        null_cols=[
            c for c in df.columns if c in types or isinstance(schema[c], DT.INTEGRAL)
        ],
    )
    if pdf is None:
        return None

    pdf = pdf.sort_values(list(order_cols), kind="stable", ignore_index=True)
    new_fields: list = []
    for out, src in sum_cols.items():
        v = pdf[src].to_numpy().astype(np.int64, copy=False)
        # conservative int64 envelope: the exact |running sum| is bounded
        # by the cumsum of |v|, whose float64 estimate is accurate to far
        # better than the 2x headroom left under 2^62.
        if len(v) and float(np.cumsum(np.abs(v).astype(np.float64))[-1]) >= 2**62:
            return None
        pdf[out] = np.cumsum(v)
        new_fields.append(T.StructField(out, T.LongType()))
    for out, src in max_cols.items():
        pdf[out] = np.maximum.accumulate(pdf[src].to_numpy())
        new_fields.append(T.StructField(out, schema[src]))

    return local_frame(
        df.sparkSession, pdf, T.StructType(list(df.schema.fields) + new_fields)
    )


def prefix_agg(
    df: DataFrame,
    order_col: str | list[str],
    sum_cols: dict[str, str] | None = None,
    max_cols: dict[str, str] | None = None,
    num_partitions: int | None = None,
    n_rows_bound: int | None = None,
) -> DataFrame:
    """Distributed two-phase running aggregates in `order_col` order.

    `sum_cols` / `max_cols` map OUTPUT name -> INPUT column; each output is
    the inclusive running sum / running max of its input over all rows at or
    before the current row in `order_col` order. All running columns share
    ONE range-repartition + per-partition window + tiny per-partition-
    boundary collect, so adding a column is free — this is the scale-safe
    replacement for every `Window.orderBy(...)` with no partitionBy (a
    single-task global sort at 100 TB).

    `order_col` (a name or list of names, compared lexicographically) must
    be a total order for per-row determinism; order-insensitive downstream
    aggregates (bin edges, moments) tolerate ties.

    ``n_rows_bound``: a SOUND upper bound on
    `df`'s row count the caller already knows without executing it (a
    dimension table's parquet footer count, a broadcast-budget contract).
    When it exceeds the driver-tier cap the tier declines WITHOUT its
    limit(cap+1) probe, so an over-cap input's upstream pipeline executes
    exactly once (in the distributed path) instead of twice. Optional:
    with no bound the tier probes as before, which is the right trade for
    dimension-bounded frames that are almost always under the cap.
    """
    sum_cols = dict(sum_cols or {})
    max_cols = dict(max_cols or {})
    if not sum_cols and not max_cols:
        raise ValueError("prefix_agg needs at least one running column")
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    # Driver tier: dimension-bounded frames skip the exchange + window +
    # checkpoint + totals machinery entirely; over-cap or type-unsafe
    # inputs fall through to the two-phase path unchanged.
    out = _prefix_agg_driver(
        df, order_cols, sum_cols, max_cols, n_rows_bound=n_rows_bound
    )
    if out is not None:
        return out
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parts = df.repartitionByRange(n, *[F.col(c) for c in order_cols]).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts
    for out, src in sum_cols.items():
        local = local.withColumn(f"__ls_{out}", F.sum(src).over(w))
    for out, src in max_cols.items():
        local = local.withColumn(f"__lm_{out}", F.max(src).over(w))
    # localCheckpoint BEFORE reading __pid twice: the totals collect and the
    # final output are separate jobs, and a re-executed repartitionByRange
    # can land DIFFERENT boundaries per job (range sampling + AQE partition
    # coalescing are per-job decisions), silently corrupting the offsets
    # (observed: 14690 distinct positions for 15000 rows). Materializing
    # pins one partitioning that both jobs read.
    local = local.localCheckpoint(eager=True)
    totals = (
        local.groupBy("__pid")
        .agg(
            *[F.sum(src).alias(f"__ts_{out}") for out, src in sum_cols.items()],
            *[F.max(f"__lm_{out}").alias(f"__tm_{out}") for out in max_cols],
        )
        .collect()
    )
    # offsets[pid] = fold of totals of all partitions with smaller pid; the
    # range partitioner guarantees smaller pid == smaller order_col range.
    sum_run: dict[str, int] = {out: 0 for out in sum_cols}
    max_run: dict[str, object] = {out: None for out in max_cols}
    sum_off: dict[str, dict[int, int]] = {out: {} for out in sum_cols}
    max_off: dict[str, dict[int, object]] = {out: {} for out in max_cols}
    for r in sorted(totals, key=lambda r: r["__pid"]):
        pid = r["__pid"]
        for out in sum_cols:
            sum_off[out][pid] = sum_run[out]
            sum_run[out] += r[f"__ts_{out}"] or 0
        for out in max_cols:
            max_off[out][pid] = max_run[out]
            t = r[f"__tm_{out}"]
            if t is not None and (max_run[out] is None or t > max_run[out]):
                max_run[out] = t
    out_frame = local
    for out in sum_cols:
        off = F.element_at(
            F.create_map(
                *[
                    x
                    for pid, o in sorted(sum_off[out].items())
                    for x in (F.lit(pid), F.lit(o))
                ]
            ),
            F.col("__pid"),
        )
        out_frame = out_frame.withColumn(out, F.col(f"__ls_{out}") + off).drop(
            f"__ls_{out}"
        )
    for out in max_cols:
        dtype = dict(local.dtypes)[f"__lm_{out}"]
        off = F.element_at(
            F.create_map(
                *[
                    x
                    for pid, o in sorted(max_off[out].items())
                    for x in (F.lit(pid), F.lit(o).cast(dtype))
                ]
            ),
            F.col("__pid"),
        )
        # greatest() skips NULLs, so partition 0 (offset NULL = "no earlier
        # rows") keeps its local running max unchanged.
        out_frame = out_frame.withColumn(
            out, F.greatest(F.col(f"__lm_{out}"), off)
        ).drop(f"__lm_{out}")
    return out_frame.drop("__pid")


def token_prefix_sum(
    df: DataFrame,
    order_col: str | list[str],
    value_col: str,
    num_partitions: int | None = None,
    n_rows_bound: int | None = None,
) -> DataFrame:
    """Adds `cum` = inclusive prefix sum of `value_col` in `order_col` order.

    `order_col` (a column name or list of names, compared lexicographically)
    must be unique (total order) for a deterministic result.
    `n_rows_bound`: see `prefix_agg`.
    """
    return prefix_agg(
        df,
        order_col,
        sum_cols={"cum": value_col},
        num_partitions=num_partitions,
        n_rows_bound=n_rows_bound,
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    context_len: int,
    order_col: str | None = None,
    n_rows_bound: int | None = None,
) -> DataFrame:
    """Concat-and-chunk packing plan: for each document, which packed
    sequences its tokens land in.

    Returns (id, n_tokens, start_tok, end_tok, start_seq, end_seq) where
    token positions are 0-based into the concatenated stream and sequence
    ids are floor(position / context_len). A document spanning a chunk
    boundary has end_seq > start_seq (it is split across sequences — the
    standard concat-and-chunk behavior, not an error).
    """
    order_col = order_col or id_col
    cum = token_prefix_sum(
        df, order_col, token_count_col, n_rows_bound=n_rows_bound
    )
    start = F.col("cum") - F.col(token_count_col)
    return cum.select(
        F.col(id_col),
        F.col(token_count_col).cast("long").alias("n_tokens"),
        start.cast("long").alias("start_tok"),
        (F.col("cum") - 1).cast("long").alias("end_tok"),
        F.floor(start / context_len).cast("long").alias("start_seq"),
        F.floor((F.col("cum") - 1) / context_len).cast("long").alias("end_seq"),
    )


def shuffle_shard_plan(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: int = 0,
    n_rows_bound: int | None = None,
) -> DataFrame:
    """Deterministic global-shuffle shard assignment for training-data export.

    Training runs need the corpus in a reproducible pseudo-random order,
    split into N balanced shards — and `rand()` (partitioning-dependent) or
    a global `orderBy` (fine, but the position assignment then needs a
    single-task zipWithIndex) are both wrong tools. This planner orders rows
    by a portable 60-bit MD5 of the id (the shuffle), computes each row's
    exact global position with the two-phase distributed prefix sum, and
    deals positions round-robin into shards:

        shard        = pos % n_shards      (balanced to within 1 row)
        pos_in_shard = pos div n_shards    (read order inside the shard)

    Same rows -> same shards on any engine, partitioning, or rerun; a
    different `salt` gives an independent reshuffle (new epoch order).
    """
    from hadoop_data_lake_spark.functions.hashing import salted_md5_60bit

    hashed = df.select(
        F.col(id_col),
        salted_md5_60bit(F.col(id_col).cast("string"), salt).alias("h"),
        F.lit(1).alias("__one"),
    )
    # (h, id) is a total order even under 60-bit hash collisions.
    cum = token_prefix_sum(
        hashed, ["h", id_col], "__one", n_rows_bound=n_rows_bound
    )
    return cum.select(
        F.col(id_col),
        F.col("h"),
        (F.col("cum") - 1).cast("long").alias("pos"),
    ).select(
        id_col,
        "h",
        "pos",
        F.expr(f"pos % {int(n_shards)}").cast("long").alias("shard"),
        # integer `div`, not float `/`: exact for any 64-bit position
        F.expr(f"pos div {int(n_shards)}").cast("long").alias("pos_in_shard"),
    )
