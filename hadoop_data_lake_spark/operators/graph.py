"""Iterative graph operators: connected components for dedup clustering.

A dedup pipeline ends by collapsing near-duplicate PAIRS (minhash/simhash/
cosine edges) into CLUSTERS and electing one representative per cluster —
that's connected components. Spark has no built-in; `connected_components`
implements the alternating large-star / small-star algorithm (Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
MapReduce and Beyond", SoCC 2014), the same family GraphFrames uses:

    large-star(u): hook every neighbor v > u onto min(N(u) ∪ {u})
    small-star(u): hook every neighbor v < u (and u itself) onto that min

Each operation preserves connectivity, and the alternation converges to a
star forest whose centers are the per-component minimum ids in O(log n)
rounds — versus O(component diameter) for naive min-label propagation,
which stalls on chain-shaped components (span-overlap graphs, transitive
near-dup chains). Each round is two shuffles (a groupBy and a join per
star step). `localCheckpoint` truncates the lineage each round — without
it the plan doubles per iteration and the driver dies long before the
data does. `max_iter` still bounds the loop; 20 covers n ≈ 2^20 at the
proven O(log² n) worst case and far more in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_data_lake_spark.core import driver_tier as DT
from hadoop_data_lake_spark.core.driver_tier import _est_row_bytes
from hadoop_data_lake_spark.core.io import local_frame


class ConvergenceError(RuntimeError):
    """Label propagation hit max_iter with labels still changing."""


# Per-vertex iteration state (ranks, labels, frontiers, survivor sets) is
# localCheckpoint-ed every round, and a checkpointed frame scans as
# `Scan ExistingRDD` with NO size statistics — Catalyst therefore can't
# pick it as the broadcast side, and every round's state-x-edges join
# falls back to a SortMergeJoin that re-shuffles the (much larger) edge
# list. Measured on pagerank_det at sf0.1: both sides exchanged, 10
# edge-list shuffles for 10 rounds. When the driver already knows the
# vertex count, hint the broadcast explicitly below this cap; beyond it
# (1e9-vertex graphs at 100 TB) the co-partitioned shuffle formulation
# stands unchanged. 1M rows of (long, long[, long]) is ~24-48 MB — well
# inside executor broadcast budgets, far above every bench graph.
BROADCAST_STATE_MAX_ROWS = 1_000_000

# Row counts alone are blind to row WIDTH: 1M rows of (long, long) is
# ~16 MB, but 1M rows of (long, string-label, array-state) could be
# multi-GB — same row cap, 100x the broadcast. The byte cap below is a
# second gate computed as rows x a conservative per-schema width estimate
# (driver-side, no job); a state frame broadcasts only when it passes
# BOTH caps, so the row-cap semantics every existing caller was tested
# under can only narrow, never widen.
BROADCAST_STATE_MAX_BYTES = 64 * 1024 * 1024


def broadcast_bounded_state(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast-hint a bounded per-vertex state frame (see note above).

    Public entry point for query code that checkpoints per-round state
    (e.g. the HITS rescale in queries/tpch_queries.py): checkpointed
    frames scan as ExistingRDD with no stats, so Catalyst can't pick
    them as the broadcast side on its own. Broadcasts only when the
    caller-supplied row count passes the row cap AND the estimated byte
    size (rows x schema width) passes the byte cap; otherwise returns
    the frame unchanged and the shuffle formulation stands.
    """
    if n_rows is None or n_rows < 0 or n_rows > BROADCAST_STATE_MAX_ROWS:
        return df
    if n_rows * _est_row_bytes(df.schema) > BROADCAST_STATE_MAX_BYTES:
        return df
    return F.broadcast(df)


# internal alias kept for the call sites below
_bcast_state = broadcast_bounded_state


def _pair_checkpoint(pairs: DataFrame, a: str, b: str) -> tuple[DataFrame, int]:
    """(u, v) eager checkpoint of a pair frame and its row count. The
    count is observed inside the checkpoint job itself, so it costs no
    extra Spark job; an empty pair set is then known before any tier
    collect or star-loop job runs."""
    from pyspark.sql import Observation

    seen = Observation()
    raw = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .observe(seen, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    return raw, seen.get["n"]


def _cc_driver_labels(
    raw: DataFrame, return_edges: bool = False, bound: int | None = None
):
    """Union-find core of the CC driver tier: (vertex -> min reachable
    id) dict over the (u, v) pairs collected through the driver-tier
    gate, or ``None`` to decline. u and v must share one integral or
    string type: the types whose Spark ordering provably matches
    Python's (UTF-8 byte order preserves code-point order).

    Exactness: union always attaches the larger root under the smaller,
    so every tree's root is the minimum id of its set (singleton base
    case; preserved by each union and by path compression) — the root IS
    `min reachable vertex`, the star loop's fixed point. Duplicates,
    reversed duplicates and self-loops collapse harmlessly.

    ``return_edges=True`` additionally hands back the collected (u, v)
    pairs, so a caller that needs a PER-PAIR pass over the same bounded
    pair list (cluster_safe_split_audit's leak audit) folds it into this
    one collect instead of collecting the checkpoint again.

    ``bound`` is the row count of the materialized ``raw`` when the caller
    read it (`_pair_checkpoint`): the gate's sound bound, so an over-cap
    pair set declines with no collect at all.
    """
    if raw.schema["u"].dataType != raw.schema["v"].dataType:
        return None
    pdf = DT.collect_bounded(
        raw.select("u", "v"),
        max_rows=DT.MAX_ROWS,
        bound=bound,
        types=DT.INTEGRAL + (T.StringType,),
        null_cols=("u", "v"),
    )
    if pdf is None:
        return None

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    rows = list(zip(pdf["u"].tolist(), pdf["v"].tolist()))
    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    labels = {x: find(x) for x in parent}
    return (labels, rows) if return_edges else labels


def _cc_driver(raw: DataFrame, bound: int | None = None):
    """Driver tier for `connected_components`: the union-find labels as a
    (vertex, component) DataFrame, or ``None`` when the core declines."""
    import pandas as pd

    labels = _cc_driver_labels(raw, bound=bound)
    if labels is None:
        return None
    ut = raw.schema["u"].dataType
    out = pd.DataFrame({"vertex": list(labels), "component": list(labels.values())})
    return local_frame(
        raw.sparkSession,
        out,
        T.StructType([T.StructField("vertex", ut), T.StructField("component", ut)]),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    strict: bool = True,
) -> DataFrame:
    """(vertex, component) — component = min vertex id reachable.

    `edges` is undirected input (each pair once is fine; duplicates,
    reversed duplicates, and self-loops are tolerated). Vertices appear in
    the output iff they appear in some edge.

    Alternating large-star / small-star (see module docstring): converges
    in O(log n) rounds regardless of component diameter. If the loop
    exhausts `max_iter` with the edge set still moving the result would be
    silently WRONG (components split). strict=True (default) raises
    ConvergenceError instead; strict=False returns the partial labels for
    callers that genuinely want bounded-effort clustering. `max_iter` /
    `strict` govern the DISTRIBUTED loop only: the driver tier (see
    below) computes the exact fixed point directly, so under the cap it
    returns converged labels regardless of the iteration budget.
    """
    # ONE eager checkpoint of the raw edge list: everything downstream
    # (vertex set, canonical edges, the iteration) derives from the
    # materialized frame, so the upstream pair pipeline (e.g. the minhash
    # LSH candidate generation) executes exactly once — deriving verts and
    # e as separate checkpoints of the un-materialized input ran it twice
    # (measured +1.4s on dedup_clusters_minhash at sf0.1). The pair count
    # rides along: an empty edge set is the empty labeling, with no tier
    # collect and no star loop.
    raw, n = _pair_checkpoint(edges, src, dst)
    if n == 0:
        return raw.select(F.col("u").alias("vertex"), F.col("u").alias("component"))
    # Driver tier: near-dup pair sets are tiny relative to the corpus
    # that produced them (253 pairs at sf0.1 for the minhash family), but
    # the distributed star loop pays 3 shuffles + a fingerprint aggregate
    # PER ROUND — fixed Spark overhead, not data cost. One bounded collect
    # of the checkpointed pairs + exact union-find returns the identical
    # (vertex, component = min reachable id) labeling.
    labels = _cc_driver(raw, bound=n)
    if labels is not None:
        return labels
    return _cc_distributed(raw, max_iter=max_iter, strict=strict)


def _cc_distributed(raw: DataFrame, max_iter: int, strict: bool) -> DataFrame:
    """The alternating large-star/small-star loop over an ALREADY
    eagerly-checkpointed (u, v) pair frame — factored out so
    `dedup_clusters`' driver-tier decline path can run it directly on its
    own checkpoint instead of re-entering `connected_components` (which
    would re-checkpoint the materialized frame and re-run the tier gate)."""
    # every input vertex, kept aside so isolated (self-loop-only) vertices
    # still label themselves in the output.
    verts = (
        raw.select(F.col("u").alias("vertex"))
        .unionByName(raw.select(F.col("v").alias("vertex")))
        .distinct()
    )
    # canonical directed edges larger -> smaller, no self-loops; own
    # checkpoint because the loop re-reads it every round.
    e = (
        raw.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _fingerprint(df: DataFrame) -> tuple:
        # one tiny driver agg per round: (row count, order-independent hash
        # sum). Equality across rounds == the star steps are at their fixed
        # point (collision odds are 2^-64-scale — negligible).
        row = df.agg(
            F.count("*").alias("n"),
            # decimal sum: long-sum of 2^63-scale hashes overflows ANSI mode
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    from pyspark.sql import Window

    # Both star steps are WINDOW-MIN formulations, not groupBy+join: a
    # whole-partition min (no orderBy => no sort) gives each row its
    # neighborhood minimum in ONE exchange, and the star emission is then a
    # pure per-row map — 3 shuffles/round total (sym window, large window,
    # closing distinct) versus 6 for the agg+join draft (measured ~1.7x
    # faster end-to-end on dedup_clusters_minhash at sf0.1).
    w = Window.partitionBy("u")
    converged = e.isEmpty()
    prev = None if converged else _fingerprint(e)
    for _ in range(max_iter):
        if converged:
            break
        # ---- large-star: for each u, hook every strictly-larger neighbor
        # onto m = min(N(u) ∪ {u}). Output edges keep the larger->smaller
        # orientation because v > u >= m. Cross-group duplicate edges are
        # tolerated here; the small-star distinct closes the round.
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (
            sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # ---- small-star: edges all point larger -> smaller; for each u,
        # hook every smaller neighbor AND u itself onto m = min(N(u)).
        # Per input row (u, v, m): emit (v, m) — except the row attaining
        # the min itself (v == m), which instead emits (u, m). One output
        # edge per input row, no join, no second pass.
        small = (
            large.withColumn("m", F.min("v").over(w))
            .select(
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("u"),
                F.col("m").alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        e = small.localCheckpoint(eager=True)
        cur = _fingerprint(e)
        converged = cur == prev
        prev = cur
    if not converged and strict:
        raise ConvergenceError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations; raise max_iter or pass strict=False for best-effort "
            "labels"
        )
    # at the fixed point `e` is a star forest larger->root; roots and
    # isolated vertices default to themselves. min() collapses the (only
    # partially hooked) multi-parent case strict=False can leave behind.
    labels = e.groupBy("u").agg(F.min("v").alias("parent"))
    return verts.join(
        labels, verts["vertex"] == labels["u"], "left"
    ).select(
        "vertex",
        F.coalesce(F.col("parent"), F.col("vertex")).alias("component"),
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Collapse near-dup pairs into clusters: (doc, cluster_rep, cluster_size).

    cluster_rep = min doc id in the component (deterministic election)."""
    raw, n = _pair_checkpoint(pairs, id_a, id_b)
    if n == 0:
        return raw.select(
            F.col("u").alias("doc"),
            F.col("u").alias("cluster_rep"),
            F.lit(0).cast("long").alias("cluster_size"),
        )
    # Driver tier: when the CC union-find tier fires, the sizes aggregate
    # + join fold into the same driver pass — one local frame out.
    labels = _cc_driver_labels(raw, bound=n)
    if labels is not None:
        from collections import Counter

        import pandas as pd

        sizes_d = Counter(labels.values())
        ut = raw.schema["u"].dataType
        out = pd.DataFrame(
            {
                "doc": list(labels),
                "cluster_rep": list(labels.values()),
                "cluster_size": [sizes_d[c] for c in labels.values()],
            }
        )
        return local_frame(
            raw.sparkSession,
            out,
            T.StructType(
                [
                    T.StructField("doc", ut),
                    T.StructField("cluster_rep", ut),
                    T.StructField("cluster_size", T.LongType()),
                ]
            ),
        )
    # raw is already an eager checkpoint and the tier already declined —
    # run the star loop on it directly.
    comp = _cc_distributed(raw, max_iter=max_iter, strict=True)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, on="component")
        .select(
            F.col("vertex").alias("doc"),
            F.col("component").alias("cluster_rep"),
            "cluster_size",
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
) -> DataFrame:
    """(vertex, rank) by power iteration over a directed edge list.

    Spark-first shape: each iteration is one equi-join (edge src -> current
    rank) + one aggregation on dst — the distributed sparse mat-vec. Dangling
    mass (sinks with no out-edges) is redistributed uniformly, so ranks sum
    to 1 every iteration. Ranks are localCheckpoint-ed per round: without
    lineage truncation round N re-executes rounds 1..N-1 (the same lesson as
    connected_components). Convergence is an L1-delta driver check (one tiny
    agg per round — the k-means mini-state pattern).

    At 100 TB the join shuffles on src and the agg on dst; pre-partitioning
    the edge list by src keeps the per-iteration shuffle to the rank table
    (|V| rows), not the edges.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        # empty edge set (r9 empty-corpus axis): no vertices, no ranks
        return nodes.select(
            F.col("v").alias("vertex"), F.lit(None).cast("double").alias("rank")
        )
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # edges+degree are reused every iteration: materialize once
    contrib_base = e.join(out_deg, "src").localCheckpoint(eager=True)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=True)
    for _ in range(max_iter):
        contribs = (
            contrib_base.join(_bcast_state(ranks, n), F.col("src") == F.col("v"))
            .select("dst", (F.col("rank") / F.col("deg")).alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").alias("in_mass"))
        )
        # dangling mass = 1 - mass that flowed along edges
        flowed = (
            ranks.join(out_deg, F.col("v") == F.col("src"), "left_semi")
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        )
        dangling = 1.0 - flowed
        new_ranks = (
            nodes.join(contribs, F.col("v") == F.col("dst"), "left")
            .select(
                "v",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        delta = (
            ranks.select("v", F.col("rank").alias("old"))
            .join(_bcast_state(new_ranks, n), "v")
            .agg(F.sum(F.abs(F.col("rank") - F.col("old"))))
            .first()[0]
        )
        ranks = new_ranks
        if delta is not None and delta <= tol:
            break
    return ranks.select(F.col("v").alias("vertex"), "rank")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list.

    The standard distributed formulation: canonicalize each edge to
    (lo, hi), dedup, then enumerate each triangle exactly once as the
    ordered wedge a<b<c closed by edge (a, c) — two equi-joins, no theta
    join. Per-vertex counts come from exploding each found triangle to its
    three corners. At 100 TB the cost driver is wedge count (sum deg^2);
    pre-filtering high-degree hub vertices (or the degree-ordered variant)
    bounds it — documented trade, not needed at this corpus's density.
    """
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    # localCheckpoint: `e` feeds THREE join branches; without truncation the
    # whole upstream edge derivation (e.g. a co-activity self-join over the
    # fact table) re-executes per branch — measured 6 scans, 0 reused
    # exchanges. The canonical edge list is the small side of that trade
    # (same reasoning as connected_components above).
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(lo.alias("a"), hi.alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e_ab = e.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e_bc = e.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    e_ac = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tris = e_ab.join(e_bc, "tb").join(e_ac, ["ta", "tc"])
    corners = tris.select(
        F.explode(F.array("ta", "tb", "tc")).alias("vertex")
    )
    return corners.groupBy("vertex").agg(F.count("*").alias("n_triangles"))


def _int_rounds_exact(iters: int, scale: int, damping_pct: int) -> bool:
    """Whether `_pagerank_int_rounds` is exact for these parameters (its
    docstring); the driver tiers decline outside this envelope."""
    return iters >= 1 and 0 <= scale <= 10**12 and 0 <= damping_pct <= 100


def _pagerank_int_rounds(src_i, dst_i, n: int, iters: int, scale: int, damping_pct: int):
    """The integer recurrence of `pagerank_intexact`, in numpy: the int64
    ranks of nodes ``0..n-1`` after ``iters`` rounds over index-encoded
    edges (one entry per edge row, so multi-edges count). Per round

        d_per = sum(rank[dangling]) // n
        s_in  = bincount(dst_i, rank[src_i] // deg[src_i])
        rank  = base + damping_pct * (s_in + d_per) // 100

    with ``base = (100 - damping_pct) * (scale // n) // 100``. A node with
    no in-edge gets ``s_in = 0``, which is the distributed loop's
    closed-form zero-in-degree rank.

    Exactness envelope (`_int_rounds_exact`): ``0 <= scale <= 10**12``
    and ``0 <= damping_pct <= 100``. Every quantity is then a
    non-negative integer, so floor division equals SQL ``div``, and the
    total rank mass never exceeds ``scale``: a round hands out at most the
    previous mass, and each division only truncates. So every addend and
    partial sum of the float64 bincount is an integer <= scale < 2^53,
    exact and order-independent like the distributed bigint sum.
    """
    import numpy as np

    deg = np.bincount(src_i, minlength=n)
    dangling = deg == 0
    deg_e = deg[src_i]  # source out-degree per edge row, >= 1
    base = (100 - damping_pct) * (scale // n) // 100
    rank = np.full(n, scale // n, dtype=np.int64)
    for _ in range(iters):
        d_per = int(rank[dangling].sum()) // n
        s_in = np.bincount(
            dst_i, weights=(rank[src_i] // deg_e).astype(np.float64), minlength=n
        ).astype(np.int64)
        rank = base + damping_pct * (s_in + d_per) // 100
    return rank


def _encode_edges(src_vals, dst_vals):
    """(nodes, src_i, dst_i): the sorted distinct ids over both endpoint
    columns, and each edge's endpoints as indices into them."""
    import numpy as np

    nodes, idx = np.unique(
        np.concatenate([src_vals.to_numpy(), dst_vals.to_numpy()]),
        return_inverse=True,
    )
    return nodes, idx[: len(src_vals)], idx[len(src_vals) :]


def _rank_frame(spark, nodes, rank, node_type) -> DataFrame:
    import pandas as pd

    return local_frame(
        spark,
        pd.DataFrame({"node": nodes, "rank_units": rank}),
        T.StructType(
            [
                T.StructField("node", node_type),
                T.StructField("rank_units", T.LongType()),
            ]
        ),
    )


def pagerank_intexact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    scale: int = 10**12,
    damping_pct: int = 85,
    deg_col: str | None = None,
) -> DataFrame:
    """(node, rank_units): power iteration in FIXED-POINT integer arithmetic.

    Float PageRank (`pagerank` above) is rows-only at the correctness gate:
    each iteration sums float contributions, and float addition is not
    associative, so two engines (or two partitionings) legitimately differ
    in the low bits. This variant keeps every quantity a bigint multiple of
    1/scale:

        r0      = scale div n                  (per node)
        contrib = r div out_deg                (per edge, integer div)
        r'      = (15 * (scale div n)) div 100
                  + (85 * (in_sum + dang div n)) div 100

    Integer addition IS associative — partition order cannot change any
    result — and an external SQL engine replays the whole iteration exactly
    (oracle: the same recurrence unrolled as chained CTEs). The truncation
    the integer divisions introduce is deterministic and bounded by
    n*iters/scale total mass, irrelevant for ranking at scale=1e12.

    Every edge row counts: a duplicate edge adds to its source's
    out-degree and contributes once more. ``deg_col`` names a column that
    already holds each edge's source out-degree (it must equal the per-src
    row count, or ranks are silently wrong); the distributed paths then
    skip their own degree aggregate and join.

    Three paths compute this one recurrence, so they are bit-identical:

    1. **Driver tier**: when the edge list passes the driver-tier gate
       (``NUMPY_MAX_ROWS``, integral or string ids of one type) and the
       parameters pass `_pagerank_int_rounds`' exactness envelope, one
       collect and the numpy kernel; no per-round job.
    2. **Layered histogram**: when no node has both in- and out-edges
       (bipartite source->sink graphs), each round aggregates the
       iteration-invariant per-sink out-degree histogram instead of the
       edge list.
    3. **General loop**: each round joins the edges with the ranks and
       sums the contributions per destination.

    Paths 2 and 3 localCheckpoint every round, so round N never re-runs
    rounds 1..N-1.
    """
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if deg_col is not None:
        # +8 B/edge in the checkpoint. A caller computing deg with a
        # window puts every edge of a src on one task, so callers with
        # skewed hub sources should keep deg_col=None.
        cols.append(F.col(deg_col).cast("long").alias("deg"))
    e = edges.select(*cols).localCheckpoint(eager=True)

    if _int_rounds_exact(iters, scale, damping_pct) and (
        e.schema["src"].dataType == e.schema["dst"].dataType
    ):
        pdf = DT.collect_bounded(
            e.select("src", "dst"),
            max_rows=DT.NUMPY_MAX_ROWS,
            types=DT.INTEGRAL + (T.StringType,),
            null_cols=("src", "dst"),
        )
        if pdf is not None:
            nodes, src_i, dst_i = _encode_edges(pdf["src"], pdf["dst"])
            rank = _pagerank_int_rounds(
                src_i, dst_i, len(nodes), iters, scale, damping_pct
            )
            return _rank_frame(e.sparkSession, nodes, rank, e.schema["src"].dataType)

    # ONE per-node flags frame (dang = no out-edges; has_in = appears as a
    # destination), built with one shuffle: a side-tagged union aggregated
    # by node, whose max/min of the tag recover has_out/has_in. One
    # aggregate over it yields every driver scalar (n, the dangling count,
    # the layered test), and the static zero-in-degree set (sources only,
    # so never dangling; closed-form rank every round) is a filter over it.
    flags = (
        e.select(F.col("src").alias("node"), F.lit(1).alias("s"))
        .unionByName(e.select(F.col("dst").alias("node"), F.lit(0).alias("s")))
        .groupBy("node")
        .agg(F.max("s").alias("mx"), F.min("s").alias("mn"))
        .select(
            "node",
            (F.col("mx") == 0).alias("dang"),  # never a source
            (F.col("mn") == 0).alias("has_in"),  # appears as a destination
        )
        .localCheckpoint(eager=True)
    )
    stats = flags.agg(
        F.count("*").alias("n"),
        F.count_if(F.col("dang")).alias("n_dang"),
        # nodes with BOTH in- and out-edges: any such node breaks the
        # layered (pure-source / pure-sink) structure
        F.count_if(F.col("has_in") & ~F.col("dang")).alias("n_mid"),
    ).first()
    n, n_dang, n_mid = stats["n"], stats["n_dang"], stats["n_mid"]
    zero_in = flags.where(~F.col("has_in")).select("node")
    nodes_f = flags.select("node", "dang")
    if deg_col is None:
        # out_deg derives from the checkpointed e (Scan ExistingRDD, no
        # stats), so Catalyst's initial plan would shuffle every join
        # against it. It has at most n rows (one per distinct source),
        # known from the flags aggregate: hint it through the byte-aware
        # cap. Over-cap graphs keep the shuffle formulation.
        out_deg = _bcast_state(
            e.groupBy("src").agg(F.count("*").alias("deg")), n
        )
        e_deg = e.join(out_deg, "src")
    else:
        e_deg = e  # deg rides every edge row: no aggregate, no join
    if n == 0:
        # empty edge set: no vertices, no ranks — zero rows, same as the
        # oracle's unrolled CTEs over empty verts
        return nodes_f.select(
            "node", F.lit(None).cast("long").alias("rank_units")
        )
    base = (100 - damping_pct) * (scale // n) // 100

    if iters >= 1 and n_mid == 0 and n_dang > 0:
        # Layered histogram path. Every node is a pure source (zero
        # in-degree, never dangling: the same closed-form scalar r_src
        # every round, kept on the driver) or a pure sink (dangling: its
        # in-mass depends on the sources only through r_src), so a round
        # is rank_sink = base + d%*(sum_deg cnt*(r_src div deg) + dsum
        # div n) div 100 over the checkpointed (sink, deg, cnt)
        # histogram, plus a one-row dsum collect. At scale this re-reads
        # the histogram each round, never the edge list.
        hist_df = (
            e_deg.groupBy("dst", "deg")
            .agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        r_src = scale // n
        dsum = n_dang * (scale // n)
        sinks_ranked = None
        for _ in range(iters):
            d_per = dsum // n
            # bigint-safe without dprod, multi-edges included: duplicate
            # edges can push cnt past the source count, but deg counts the
            # same duplicates, so for one (dst, deg) cell cnt <= deg *
            # n_deg (n_deg = sources with that out-degree) and cnt *
            # (r_src div deg) <= n_deg * r_src; summed over deg cells the
            # per-sink f is <= n * r_src <= scale — total rank mass.
            sinks_ranked = (
                hist_df.groupBy("dst")
                .agg(
                    F.sum(F.expr(f"cnt * ({r_src} div deg)")).alias("f")
                )
                .select(
                    F.col("dst").alias("node"),
                    (
                        F.lit(base)
                        + F.expr(f"({damping_pct} * (f + {d_per})) div 100")
                    ).alias("rank_units"),
                )
                .localCheckpoint(eager=True)
            )
            dsum = sinks_ranked.agg(
                F.coalesce(F.sum("rank_units"), F.lit(0))
            ).first()[0]
            r_src = base + (damping_pct * d_per) // 100
        return sinks_ranked.unionByName(
            zero_in.select(
                "node", F.lit(r_src).cast("long").alias("rank_units")
            )
        )

    # General loop. Per-edge static metadata: source out-degree + whether
    # the TARGET is dangling (from the checkpointed flags frame, broadcast
    # under the same n-row bound), carried through the dst aggregation so
    # the new ranks frame needs no join to recover the flag. Per round:
    # the edges-x-ranks join ships only NON-dangling ranks (a dangling
    # node contributes through the scalar dangling sum, not along edges),
    # one groupBy(dst), a one-row dangling-sum aggregate, and a UNION with
    # the zero-in-degree nodes' closed-form rank.
    contrib_base = (
        e_deg.join(
            _bcast_state(
                flags.select(
                    F.col("node").alias("dst"), F.col("dang").alias("dst_dang")
                ),
                n,
            ),
            "dst",
        )
        .select("src", "dst", "deg", "dst_dang")
        .localCheckpoint(eager=True)
    )

    ranks = nodes_f.withColumn("rank", F.lit(scale // n)).localCheckpoint(eager=True)
    for _ in range(iters):
        in_sum = (
            contrib_base.join(
                _bcast_state(ranks.where(~F.col("dang")), n),
                F.col("src") == F.col("node"),
            )
            .select(F.col("dst"), F.col("dst_dang"), F.expr("rank div deg").alias("c"))
            .groupBy("dst", "dst_dang")
            .agg(F.sum("c").alias("s"))
        )
        dang = ranks.where("dang").agg(
            F.coalesce(F.sum("rank"), F.lit(0)).alias("dsum")
        )
        new_rank = F.lit(base) + F.expr(
            f"({damping_pct} * (coalesce(s, cast(0 as bigint))"
            f" + (dsum div {n}))) div 100"
        )
        ranks = (
            in_sum.crossJoin(F.broadcast(dang))
            .select(
                F.col("dst").alias("node"),
                F.col("dst_dang").alias("dang"),
                new_rank.alias("rank"),
            )
            .unionByName(
                zero_in.crossJoin(F.broadcast(dang)).select(
                    "node",
                    F.lit(False).alias("dang"),
                    (
                        F.lit(base)
                        + F.expr(f"({damping_pct} * (dsum div {n})) div 100")
                    ).alias("rank"),
                )
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("rank").alias("rank_units"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """(node, hop): minimum hop count from any seed, breadth-first, over an
    UNDIRECTED edge list, bounded at max_hops.

    The canonical distributed frontier expansion: hop k's frontier is the
    neighbors of hop k-1's frontier minus everything already visited — one
    equi-join plus one anti-join per level, all on the node key. Because
    every level is a set operation on integer ids the result is exactly
    replayable, and the fixed level count unrolls into chained SQL CTEs for
    the oracle (no recursive-CTE path-explosion risk on cyclic graphs).

    At 100 TB the frontier join shuffles on the node key both sides; the
    visited set stays partitioned the same way, so each level reuses one
    exchange. Frontiers are localCheckpoint-ed per level (lineage doubles
    otherwise, as in connected_components).
    """
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = (
        e0.unionByName(e0.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = seeds.select(F.col(seed_col).alias("node")).distinct().localCheckpoint(
        eager=True
    )
    # vertex count bounds frontier AND visited at every level: one driver
    # scalar unlocks the state broadcast (see _bcast_state note) so the
    # per-level joins ship the frontier, never re-shuffle the edge list
    n_verts = sym.select("s").distinct().count()
    visited = frontier
    out = frontier.withColumn("hop", F.lit(0))
    for k in range(1, max_hops + 1):
        nxt = (
            sym.join(_bcast_state(frontier, n_verts), sym["s"] == frontier["node"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(_bcast_state(visited, n_verts), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        out = out.unionByName(nxt.withColumn("hop", F.lit(k)))
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return out


def kcore_peel(
    edges: DataFrame,
    k: int,
    peels: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, deg) surviving EXACTLY `peels` rounds of k-core peeling over
    an undirected edge list: each round drops every node with degree < k,
    then every edge touching a dropped node. Fixed-round semantics (not
    run-to-convergence) keep the result a pure function of (edges, k,
    peels) that an external engine replays by unrolling the rounds — the
    bfs_hops/pagerank_det contract. If the peeling has converged within
    the budget the output IS the exact k-core (checkable: one more peel is
    a fixed point); otherwise it's the standard bounded-round
    over-approximation. Each round: one degree aggregation + two
    semi-joins, all on the node key; frames are localCheckpoint-ed so
    round N never re-executes rounds 1..N-1."""
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    e = (
        e0.where(F.col("s") != F.col("d"))
        .select(F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # initial vertex count bounds every round's survivor set: one driver
    # scalar unlocks the state broadcast for all `peels` rounds
    n_verts = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .count()
    )
    for _ in range(peels):
        deg = (
            e.select(F.col("s").alias("node"))
            .unionByName(e.select(F.col("d").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        # checkpoint the survivor set once per round: it feeds BOTH
        # semi-joins (uncheckpointed, the degree aggregation runs twice)
        keep = (
            deg.where(F.col("deg") >= k).select("node").localCheckpoint(eager=True)
        )
        e = (
            e.join(
                _bcast_state(keep.withColumnRenamed("node", "s"), n_verts),
                "s",
                "left_semi",
            )
            .join(
                _bcast_state(keep.withColumnRenamed("node", "d"), n_verts),
                "d",
                "left_semi",
            )
            .select("s", "d")
            .localCheckpoint(eager=True)
        )
    final_deg = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    return final_deg.where(F.col("deg") >= k)


def lpa_communities(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 4,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007)
    over an undirected weighted graph: (vertex, community).

    Every vertex starts as its own label; each round ALL vertices adopt,
    simultaneously from the previous round's labels, the label with the
    highest incident weight sum among their neighbors — ties broken by
    label ascending, which (with integer weights) makes every round, and
    therefore the fixed-`iters` outcome, exactly replayable by an external
    SQL engine (the pagerank_intexact unrolled-CTE precedent). Isolated
    or degree-tied vertices keep deterministic labels; no RNG, no
    vertex-ordering dependence (the classic asynchronous LPA is
    order-dependent by design — the synchronous variant trades possible
    label oscillation for reproducibility, which a data-lake operator
    needs more).

    100 TB shape: one shuffle per round (message tally on vertex id),
    labels localCheckpoint-ed each round so lineage stays O(1); rounds
    are fixed, not data-dependent.
    """
    w = (
        F.col(weight).cast("long")
        if weight is not None
        else F.lit(1).cast("long")
    )
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"), w.alias("w"))
        .unionByName(
            edges.select(
                F.col(dst).alias("s"), F.col(src).alias("d"), w.alias("w")
            )
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("s").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
        .localCheckpoint(eager=True)
    )
    n_verts = labels.count()  # bounded driver scalar: enables the state broadcast

    # Driver tier (the pagerank_intexact pattern): a dimension-bounded
    # graph — brand/category co-occurrence graphs stay (dim x dim) at ANY
    # corpus scale because the caller pre-aggregates co-occurrence counts
    # into the edge weight — runs all rounds in Python after ONE bounded
    # collect of the checkpointed symmetrized edges. The recurrence is
    # integer weight sums + (score desc, label asc) argmax:
    # order-independent, so bit-identical to the distributed loop (pinned
    # by test). NULL weights decline with the ids: SQL SUM skips them, and
    # pandas would hand them over as float NaN.
    pdf = None
    if iters >= 1 and n_verts <= DT.MAX_NODES:
        pdf = DT.collect_bounded(e, max_rows=DT.MAX_ROWS, null_cols=("s", "d", "w"))
    if pdf is not None:
        from collections import defaultdict

        import pandas as pd

        edge_rows = list(zip(*(pdf[k].tolist() for k in ("s", "d", "w"))))
        label = {s: s for s, _, _ in edge_rows}
        for _ in range(iters):
            tally: dict[object, dict[object, int]] = defaultdict(dict)
            for s, d, wt in edge_rows:
                grp = tally[s]
                grp[label[d]] = grp.get(label[d], 0) + wt
            label = {
                v: min(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                for v, scores in tally.items()
            }
        csize: dict[object, int] = defaultdict(int)
        for lb in label.values():
            csize[lb] += 1
        vt = e.schema["s"].dataType
        return local_frame(
            e.sparkSession,
            pd.DataFrame(
                {
                    "vertex": list(label),
                    "community": list(label.values()),
                    "community_size": [csize[lb] for lb in label.values()],
                }
            ),
            T.StructType(
                [
                    T.StructField("vertex", vt),
                    T.StructField("community", vt),
                    T.StructField("community_size", T.LongType()),
                ]
            ),
        )

    from hadoop_data_lake_spark.operators.windows import topk_per_group

    for _ in range(iters):
        msgs = e.join(
            _bcast_state(labels.select(F.col("vertex").alias("d"), "label"), n_verts),
            "d",
        ).select(F.col("s").alias("vertex"), "label", "w")
        tally = msgs.groupBy("vertex", "label").agg(F.sum("w").alias("score"))
        new = topk_per_group(
            tally,
            ["vertex"],
            [F.col("score").desc(), F.col("label").asc()],
            k=1,
        ).select("vertex", F.col("label").alias("new_label"))
        labels = (
            labels.join(_bcast_state(new, n_verts), "vertex", "left")
            .select(
                "vertex",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "label").select(
        "vertex", F.col("label").alias("community"), "community_size"
    )


def _hits_numpy_rounds(hub_i, auth_i, n_h: int, n_a: int, rounds: int, scale: int):
    """The numpy HITS recurrence: exact int64 bincount rounds over
    index-encoded edges, each half-round followed by the integer rescale
    ``v * scale // max(v)``.

    Exactness: every aggregate is a sum of non-negative ints <= `scale`,
    so a per-node sum is <= scale * |E| < 2^53 — np.bincount's float64
    accumulation is EXACT (every addend and partial sum is a
    representable integer), hence order-independent like the distributed
    integer hash aggregate; the rescale numerator v * scale <=
    scale^2 * |E| < 2^63 never overflows int64, and floor-div of
    non-negative ints equals SQL `div`. Callers must have checked that
    envelope against the edge count."""
    import numpy as np

    def _rescale(v):
        return (v * scale) // v.max()

    def _agg(idx, w, n):
        return np.bincount(
            idx, weights=w.astype(np.float64), minlength=n
        ).astype(np.int64)

    a = _rescale(np.bincount(auth_i, minlength=n_a).astype(np.int64))
    h = _rescale(_agg(hub_i, a[auth_i], n_h))
    for _ in range(rounds - 1):
        a = _rescale(_agg(auth_i, h[hub_i], n_a))
        h = _rescale(_agg(hub_i, a[auth_i], n_h))
    return h, a


def hits_topk_sides_driver(
    e: DataFrame,
    hub_col: str,
    auth_col: str,
    rounds: int = 2,
    k: int = 10,
    scale: int = 1_000_000,
    n_edges_bound: int | None = None,
):
    """Fused driver tier for top-k HITS
    (queries/tpch_queries.hits_hubs_authorities): collect the RAW —
    possibly duplicated — edge projection ONCE, dedupe pairs in numpy,
    run the integer recurrence, and return ONLY the 2k result rows as a
    ``(side, node, score)`` DataFrame (``'hub'`` rows first, each side
    ordered score desc / node asc — the `_hits_top_sides` contract). The
    caller thereby skips the distinct exchange, the edge checkpoint, the
    count job and the two per-node score frames.

    ``n_edges_bound`` is the gate's sound bound on the collected row
    count (`core.driver_tier`), e.g. the fact-side row count when the
    join key is the other side's primary key. The cap
    (``NUMPY_MAX_ROWS``) and the exactness envelope are checked against
    it (conservative: the deduped edge count is <= the bound).

    Returns ``None`` when the gate or the envelope declines — the caller
    then runs the distributed loop. Both node columns must share one
    INTEGRAL Spark type, the numpy index encoding's domain.
    """
    if rounds < 1 or k < 1 or scale > 1_000_000:
        return None  # the <2^53 / <2^63 exactness chain is sized to 1e6
    if n_edges_bound is None:
        return None  # a probe would run the un-materialized join twice
    if scale * n_edges_bound >= 2**53 or scale * scale * n_edges_bound >= 2**63:
        return None
    if e.schema[hub_col].dataType != e.schema[auth_col].dataType:
        return None
    pdf = DT.collect_bounded(
        e.select(hub_col, auth_col),
        max_rows=DT.NUMPY_MAX_ROWS,
        bound=n_edges_bound,
        types=DT.INTEGRAL,
        null_cols=(hub_col, auth_col),
    )
    if pdf is None:
        return None
    import numpy as np
    import pandas as pd

    hub_u, hub_i = np.unique(pdf[hub_col].to_numpy(), return_inverse=True)
    auth_u, auth_i = np.unique(pdf[auth_col].to_numpy(), return_inverse=True)
    # pair dedupe == SQL DISTINCT: encode (hub, auth) as one int64 —
    # hub_i < |E| and len(auth_u) <= |E| <= 4e6, so the product stays
    # far under 2^63.
    code = np.unique(hub_i.astype(np.int64) * len(auth_u) + auth_i)
    hub_i = code // len(auth_u)
    auth_i = code % len(auth_u)
    h, a = _hits_numpy_rounds(hub_i, auth_i, len(hub_u), len(auth_u), rounds, scale)

    def _topk(nodes, v):
        # (score desc, node asc) — np.lexsort's LAST key is primary;
        # -v cannot overflow (0 <= v <= scale).
        order = np.lexsort((nodes, -v))[:k]
        return nodes[order], v[order]

    hub_n, hub_s = _topk(hub_u, h)
    auth_n, auth_s = _topk(auth_u, a)
    out = pd.DataFrame(
        {
            "side": ["hub"] * len(hub_n) + ["auth"] * len(auth_n),
            "node": np.concatenate([hub_n, auth_n]),
            "score": np.concatenate([hub_s, auth_s]),
        }
    )
    return local_frame(
        e.sparkSession,
        out,
        T.StructType(
            [
                T.StructField("side", T.StringType()),
                T.StructField("node", e.schema[hub_col].dataType),
                T.StructField("score", T.LongType()),
            ]
        ),
    )


def pagerank_distinct_driver(
    e: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    scale: int = 10**12,
    damping_pct: int = 85,
    n_edges_bound: int | None = None,
):
    """Fused driver tier for fixed-point PageRank over the DISTINCT edge
    pairs of ``e`` (queries/tpch_queries.pagerank_det) — the pagerank
    analogue of `hits_topk_sides_driver`: collect the raw, possibly
    duplicated edge projection once (Arrow), dedupe the pairs in numpy and
    run `_pagerank_int_rounds`. The caller thereby skips the whole
    distributed edge build (repartition + dropDuplicates + degree window)
    and every checkpoint of `pagerank_intexact`.

    Bit-identical to ``pagerank_intexact(e.dropDuplicates([src, dst]),
    ...)``: the same kernel as that operator's driver tier, over the same
    deduplicated edges.

    ``n_edges_bound`` is the gate's sound bound on the collected row
    count (the `hits_topk_sides_driver` contract).

    Returns ``None`` (the caller falls back to the distributed build +
    `pagerank_intexact`) when the bound is missing, the gate or the
    exactness envelope declines, or the node columns are not one shared
    integral type.
    """
    if not _int_rounds_exact(iters, scale, damping_pct):
        return None
    if n_edges_bound is None:
        return None  # a probe would run the un-materialized join twice
    if e.schema[src].dataType != e.schema[dst].dataType:
        return None
    pdf = DT.collect_bounded(
        e.select(src, dst),
        max_rows=DT.NUMPY_MAX_ROWS,
        bound=n_edges_bound,
        types=DT.INTEGRAL,
        null_cols=(src, dst),
    )
    if pdf is None:
        return None
    import numpy as np

    nodes, src_i, dst_i = _encode_edges(pdf[src], pdf[dst])
    n = len(nodes)
    # pair dedupe == dropDuplicates([src, dst]): both indices are < n <=
    # 2 |E|, so the pair code stays far under 2^63 at the row cap.
    code = np.unique(src_i * n + dst_i)
    rank = _pagerank_int_rounds(code // n, code % n, n, iters, scale, damping_pct)
    return _rank_frame(e.sparkSession, nodes, rank, e.schema[src].dataType)
