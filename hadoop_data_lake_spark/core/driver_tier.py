"""One gate for driver tiers: the bounded collect of a small Spark frame.

A driver tier is a second implementation of an operator. When the input
is small it collects the input to the driver, runs the same recurrence in
numpy or plain Python, and skips the fixed per-job cost of Spark; when it
cannot prove it matches the distributed path it declines, and the
distributed path runs unchanged. Every tier reaches the driver through
`collect_bounded` and goes back into Spark through `core.io.local_frame`,
so the rules below hold for all of them:

- **Switch.** ``GENERAL_DRIVER_TIER_ENABLED = False`` turns every tier
  off; the distributed paths are then the only ones. Tests and the bench
  control runs flip it; nothing else reads it.
- **Types.** Array, map, struct and binary columns always decline: their
  width cannot be estimated from the schema. A tier narrows further with
  ``types`` (for example integral node ids for the numpy kernels).
- **Caps.** A tier picks its row cap from the constants below; the byte
  budget ``MAX_BYTES`` over the schema's estimated row width
  (`_est_row_bytes`) can only lower it: the effective cap is
  ``min(max_rows, MAX_BYTES // width)``.
- **Bound.** A *sound* ``bound`` is an upper bound on the frame's row
  count that the caller knows without executing the frame: the parquet
  footer count of a fact table that an inner join on the other side's
  primary key cannot multiply, or the count of an already materialized
  frame. A bound over the cap declines without running any Spark job.
  Under the cap the gate collects once, with no probe, and declines if
  more rows arrive than the bound promised. Without a bound the gate
  collects ``limit(cap + 1)`` once and declines when it returns more than
  ``cap`` rows.
- **Degenerate input.** An empty frame declines (the distributed path's
  empty shape is already cheap), and so does a NULL or NaN in any
  ``null_cols`` column: pandas turns a NULL integral into a float NaN,
  and NULL has SQL semantics no kernel here replicates.

Each tier keeps its own kernel and its own exactness envelope (for
example ``scale * |E| < 2^53`` for the float64 bincounts); the gate only
decides whether the input may be collected at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: Tier switch; see the module docstring.
GENERAL_DRIVER_TIER_ENABLED = True

#: Row cap of the Python-loop tiers and the prefix/PSI tiers (union-find,
#: label propagation, running aggregates).
MAX_ROWS = 500_000
#: Node cap of the label-propagation tier, checked on the node count the
#: operator already holds before the edge collect.
MAX_NODES = 200_000
#: Row cap of the numpy tiers (fused HITS and both integer PageRank tiers):
#: a gather plus an integer bincount per round is ~1000x cheaper per edge
#: than a Python dict loop. 4M (long, long) edges are 64 MB.
NUMPY_MAX_ROWS = 4_000_000
#: Row cap of the per-row argmin tier (`geo_queries.nearest_city`), which
#: writes every collected dimension row into one codegen'd projection, so
#: its plan-build and compile cost grows with the row count. At 128 cities
#: it still beat the cross join 2.3 s to 4.5 s on 10k events and 6.6 s to
#: 39 s on 100k (`local[2]`, C1 JIT, 4-CPU VM); at 256 on 10k events, 5.9 s
#: to 7.1 s.
ARGMIN_MAX_ROWS = 128
#: Byte budget of any one collect, rows x estimated row width.
MAX_BYTES = 64 * 1024 * 1024

INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_UNBOUNDED = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)

# conservative on-wire width estimates per Spark SQL type; complex /
# variable-length types get deliberately pessimistic defaults because a
# too-small estimate ships an oversized collect or broadcast while a
# too-large one merely falls back to the (always-correct) distributed path.
_FIXED_TYPE_BYTES = {
    "boolean": 1,
    "byte": 1,
    "short": 2,
    "integer": 4,
    "float": 4,
    "date": 4,
    "long": 8,
    "double": 8,
    "timestamp": 8,
    "timestamp_ntz": 8,
}


def _est_row_bytes(schema) -> int:
    """Pessimistic per-row byte estimate of a collect or broadcast candidate."""
    total = 0
    for f in schema.fields:
        t = f.dataType.typeName()
        if t in _FIXED_TYPE_BYTES:
            total += _FIXED_TYPE_BYTES[t]
        elif t == "decimal":
            total += 16
        elif t == "string":
            total += 48  # id-ish labels in practice; pessimistic for keys
        else:
            # array / map / struct / binary: unbounded payloads — price
            # them so a few such columns push a large frame over the cap.
            total += 256
    return max(total, 8)


def collect_bounded(
    df: DataFrame,
    *,
    max_rows: int,
    bound: int | None = None,
    types: tuple | dict | None = None,
    null_cols=(),
):
    """``df`` as a pandas frame, or ``None`` to decline (module docstring).

    ``types`` is a tuple of allowed Spark type classes for every column,
    or a ``{column: tuple}`` map for the listed columns only.
    """
    if not GENERAL_DRIVER_TIER_ENABLED:
        return None
    for f in df.schema.fields:
        allowed = types.get(f.name) if isinstance(types, dict) else types
        if isinstance(f.dataType, _UNBOUNDED) or (
            allowed is not None and not isinstance(f.dataType, allowed)
        ):
            return None
    cap = min(max_rows, MAX_BYTES // _est_row_bytes(df.schema))
    if bound is not None:
        if bound > cap:
            return None
        pdf = df.toPandas()
        if len(pdf) > bound:
            return None  # the caller's bound was not sound
    else:
        pdf = df.limit(cap + 1).toPandas()
        if len(pdf) > cap:
            return None
    if len(pdf) == 0:
        return None
    if null_cols and pdf[list(null_cols)].isna().any().any():
        return None
    return pdf
