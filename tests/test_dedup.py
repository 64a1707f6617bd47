"""Dedup operators: exact, n-gram Jaccard, MinHash+LSH, SimHash."""

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR, count_jobs

from hadoop_data_lake_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact copy of 1
    (3, "the quick brown fox jumps over a lazy dog"),            # near-dup of 1
    (4, "completely different content about spark engines here"),
    (5, "the quick brown fox jumps over the lazy cat today"),    # near-dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = exact_dedup(docs, "doc_id", "text").collect()
    by_rep = {r["rep_id"]: r["n_copies"] for r in out}
    assert by_rep[1] == 2        # docs 1+2 collapse, min id is representative
    assert by_rep[3] == 1
    assert len(out) == 4


def test_ngram_jaccard_pairs(docs):
    out = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard_r"] for r in out.collect()}
    assert got[(1, 2)] == 1.0                    # identical
    assert (1, 4) not in got                     # unrelated
    assert 0.3 <= got[(1, 3)] < 1.0              # near-dup
    # symmetry-by-construction: only doc_a < doc_b pairs emitted
    assert all(a < b for a, b in got)


def test_ngram_jaccard_max_df_caps_hot_shingles(spark):
    # 20 docs all opening with the same 3 words (one shared hot shingle),
    # otherwise pairwise-unique. Uncapped, the hot shingle alone makes every
    # pair a candidate: 190 pairs at threshold 0. With max_df it is dropped
    # from the inverted index and the candidate set collapses to zero —
    # the O(n^2) blowup a single degenerate shingle causes at corpus scale.
    rows = [(i, f"hot hot hot u{i} v{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.01)
    assert uncapped.count() == 190  # all C(20,2) pairs share the hot shingle

    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.01, max_df=5
    )
    assert capped.count() == 0


def test_ngram_jaccard_default_caps_shared_by_all_shingle(spark):
    """The DEFAULT max_df must close the quadratic escape without being
    asked: 1100 docs sharing one boilerplate shingle (df > DEFAULT_MAX_DF)
    would form C(1100,2) ≈ 600k candidate pairs uncapped; the default cap
    drops that shingle and the operator emits zero pairs (VERDICT r3 item
    5 — the footgun is now unloadable)."""
    from hadoop_data_lake_spark.operators.dedup import DEFAULT_MAX_DF

    n = DEFAULT_MAX_DF + 100
    rows = [(i, f"hot hot hot u{i} v{i}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.01)
    assert got.count() == 0


def test_ngram_jaccard_max_df_no_change_below_cap(docs):
    # A cap above every shingle's doc frequency must be a semantic no-op.
    base = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3)
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.3, max_df=1000
    )
    key = lambda r: (r["doc_a"], r["doc_b"])
    assert sorted(map(key, base.collect())) == sorted(map(key, capped.collect()))


def test_containment_detects_near_superset(spark):
    from hadoop_data_lake_spark.operators.dedup import containment_pairs

    rows = [
        (1, "alpha beta gamma delta"),                             # short doc
        (2, "intro words alpha beta gamma delta trailing words"),  # quotes doc 1
        (3, "totally unrelated content entirely different words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r for r in
           containment_pairs(df, "doc_id", "text", k=3, threshold=0.9).collect()}
    # all of doc 1's shingles appear in doc 2 -> containment 1.0 one way...
    assert out[(1, 2)]["containment_r"] == 1.0
    # ...but NOT the other way (doc 2 has extra shingles) — asymmetry.
    assert (2, 1) not in out
    assert not any(3 in pair for pair in out)


def test_minhash_candidates_cover_exact_pairs(docs):
    """LSH candidates (verified with exact Jaccard) must find every pair the
    exhaustive index finds at a high threshold — identical docs collide in
    every band, so (1,2) is guaranteed; near-dups should survive too."""
    lsh = minhash_lsh_pairs(docs, "doc_id", "text", k=3, num_hashes=16, bands=8, threshold=0.3)
    got = {(r["doc_a"], r["doc_b"]) for r in lsh.collect()}
    assert (1, 2) in got
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3).collect()
    }
    # every reported pair is a true >= threshold pair (verified re-rank)
    assert got <= exact


def test_simhash_groups_near_dups(docs):
    out = simhash_pairs(docs, "doc_id", "text", max_hamming=28)
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert (1, 2) in got
    # hamming distance of identical docs is 0
    zero = [r for r in simhash_pairs(docs, "doc_id", "text", max_hamming=0).collect()]
    assert {(r["doc_a"], r["doc_b"]) for r in zero} == {(1, 2)}


def test_dedup_determinism(docs):
    a = sorted(map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text").collect()))
    b = sorted(map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text").collect()))
    assert a == b


def test_minhash_index_incremental_probe(spark, tmp_path):
    """Build the index on a corpus, probe a new batch: the planted near-dup
    is found with the SAME jaccard the full-batch operator reports for that
    cross pair; a fresh doc matches nothing."""
    from hadoop_data_lake_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_probe,
        minhash_lsh_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base + " extra"), (11, "completely different words with no overlap at all")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_index")
    minhash_index_build(corpus, path, "doc_id", "text")
    # the persisted band rows carry the set size and the r = 16 // 4 exact
    # long minima of each band
    bands = spark.read.parquet(f"{path}/bands")
    assert bands.dtypes == [
        ("doc", "bigint"), ("n_sh", "bigint"), ("band", "int"),
        ("k0", "bigint"), ("k1", "bigint"), ("k2", "bigint"), ("k3", "bigint"),
    ]
    assert bands.count() == 2 * 4
    got = {
        (r["new_doc"], r["idx_doc"]): r["jaccard_r"]
        for r in minhash_index_probe(new, path, "doc_id", "text").collect()
    }
    assert set(got) == {(10, 1)}
    # parity: the full-batch operator on corpus+new reports the same value
    # for the cross pair
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard_r"]
        for r in minhash_lsh_pairs(corpus.unionByName(new), "doc_id", "text").collect()
    }
    assert full[(1, 10)] == got[(10, 1)]


def test_minhash_index_probe_equals_full_batch_cross_pairs(spark, tmp_path):
    """A probe against a freshly built index returns exactly the
    new x index pairs of `minhash_lsh_pairs` over corpus + batch, with the
    same inter, uni and jaccard_r."""
    from hadoop_data_lake_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_probe,
    )

    words = [f"w{i}" for i in range(40)]
    texts = [" ".join(words[j:j + 12]) for j in range(0, 24, 2)]
    texts += [t + " tail" for t in texts[:4]] + ["x y", "x y", ""]
    rows = [(i, t) for i, t in enumerate(texts)]
    corpus = spark.createDataFrame(rows[::2], "doc_id long, text string")
    batch = spark.createDataFrame(rows[1::2], "doc_id long, text string")
    new_ids = {i for i, _ in rows[1::2]}

    path = str(tmp_path / "mh_index")
    minhash_index_build(corpus, path, "doc_id", "text")
    probe = {
        (r["new_doc"], r["idx_doc"], r["inter"], r["uni"], r["jaccard_r"])
        for r in minhash_index_probe(batch, path, "doc_id", "text").collect()
    }
    want = set()
    for r in minhash_lsh_pairs(corpus.unionByName(batch), "doc_id", "text").collect():
        a, b = r["doc_a"], r["doc_b"]
        if (a in new_ids) != (b in new_ids):
            n, i = (a, b) if a in new_ids else (b, a)
            want.add((n, i, r["inter"], r["uni"], r["jaccard_r"]))
    assert len(want) >= 5
    assert probe == want


def test_dedup_minhash_lsh_warm_runs_two_build_and_five_action_jobs(spark):
    """One signature-and-size aggregate and one verification core: a warm
    `dedup_minhash_lsh` runs 2 jobs while it is built (the inverted-index
    checkpoint) and 5 for its full result."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    fn = REGISTRY["dedup_minhash_lsh"].fn

    def full(df):
        df.write.format("noop").mode("overwrite").save()

    full(fn(spark, SF_DIR))  # warm: the table's schema is memoized
    df, build_jobs = count_jobs(spark, lambda: fn(spark, SF_DIR))
    _, action_jobs = count_jobs(spark, lambda: full(df))
    assert (build_jobs, action_jobs) == (2, 5)


def test_minhash_cross_probe_side_broadcasts(spark):
    """Every join in minhash_cross_pairs that reads the probe side — the
    band-collision join and the verification join — is broadcast-hinted
    (checkpointed frames carry no stats of their own, so without the hints
    Catalyst could SMJ-shuffle the corpus side per join)."""
    from hadoop_data_lake_spark.operators.dedup import minhash_cross_pairs

    left = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(30)],
        "doc_id long, body string",
    )
    right = spark.createDataFrame(
        [(100, "the quick brown fox 3 jumps over the lazy dog")],
        "doc_id long, body string",
    )
    df = minhash_cross_pairs(left, right, "doc_id", "body", threshold=0.3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = [line for line in plan.splitlines() if "Join [" in line]
    probe_side = [line for line in joins if "band" in line or "doc_right" in line]
    assert len(probe_side) == 2, plan
    assert all("BroadcastHashJoin" in line for line in probe_side), plan
    # and the operator still finds the planted cross-corpus duplicate
    hits = {(r["doc_left"], r["doc_right"]) for r in df.collect()}
    assert (3, 100) in hits


def test_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee: documents sharing a run of window+k-1 = 6 tokens
    must share >= 1 fingerprint; disjoint docs share none."""
    from hadoop_data_lake_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"{shared} seven eight nine ten eleven"),
        (3, "totally different words with nothing common here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc"]: set(r["fps"].split(",")) for r in
           winnow_fingerprints(df, "doc_id", "text", k=3, window=4).collect()}
    assert out[1] & out[2]            # shared run -> shared fingerprint
    assert not (out[1] & out[3])
    assert not (out[2] & out[3])


def test_winnow_density_bounded(spark):
    """Winnowing selects far fewer fingerprints than k-grams (expected
    ~2/(w+1) of hashes) and is invariant to duplicate selection."""
    from hadoop_data_lake_spark.operators.dedup import winnow_fingerprints

    text = " ".join(f"w{i % 17}x{i % 5}" for i in range(200))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = winnow_fingerprints(df, "doc_id", "text", k=3, window=4).collect()[0]
    n_grams = 198
    assert r["n_fps"] <= n_grams * 0.75
    assert r["n_fps"] >= 1


def test_winnow_overlap_pairs_and_hot_fp_cap(spark):
    from hadoop_data_lake_spark.operators.dedup import winnow_overlap_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"{shared} unique one two three"),
        (2, f"four five six {shared} seven"),
        (3, "completely different text with no run in common at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["shared_fps"]
           for r in winnow_overlap_pairs(df, "doc_id", "text", min_shared=1).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert not any(3 in p for p in got)

    # a fingerprint shared by EVERY doc is boilerplate: capped out, the
    # all-pairs blowup it causes disappears
    # shared run of 8 tokens >= window+k-1 = 6 -> every pair is guaranteed
    # a shared fingerprint
    boiler = [(i, f"common run of eight words right here now u{i} v{i} w{i}") for i in range(10)]
    bdf = spark.createDataFrame(boiler, "doc_id long, text string")
    uncapped = winnow_overlap_pairs(bdf, "doc_id", "text", min_shared=1)
    assert uncapped.count() == 45
    capped = winnow_overlap_pairs(bdf, "doc_id", "text", min_shared=1, max_df=5)
    assert capped.count() == 0


def test_prefix_filter_equals_naive_with_fewer_candidates(spark, docs):
    """Prefix filtering must compute the IDENTICAL relation as the full
    inverted-index join, from a strictly smaller candidate index."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.operators.dedup import (
        _shingle_index,
        jaccard_pairs_prefix_filter,
    )

    t = 0.3
    naive = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=t)
    pref = jaccard_pairs_prefix_filter(docs, "doc_id", "text", k=3, threshold=t)
    key = lambda r: (r["doc_a"], r["doc_b"], r["inter"], r["uni"], r["jaccard_r"])
    assert sorted(map(key, naive.collect())) == sorted(map(key, pref.collect()))

    # the prefix index is strictly smaller than the full inverted index
    sets, inv = _shingle_index(docs, "doc_id", "text", 3)
    n_full = inv.count()
    freq = inv.groupBy("s").agg(F.count("*").alias("df_s"))
    from pyspark.sql import Window
    w = Window.partitionBy("doc").orderBy(F.col("df_s").asc(), F.col("s").asc())
    sizes = sets.select("doc", F.size("sh").alias("n_sh"))
    n_prefix = (
        inv.join(freq, "s")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc")
        .where(F.col("pos") <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1)
        .count()
    )
    assert n_prefix < n_full


def test_minhash_cross_pairs_between_corpora(spark):
    """Cross-corpus decontamination: a training doc near-duplicating a probe
    doc must surface with both directions keyed (doc_left from the left
    table, doc_right from the right) and no within-corpus pairs."""
    from hadoop_data_lake_spark.operators.dedup import minhash_cross_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    train = spark.createDataFrame(
        [
            (1, base),                       # near-dup of probe 100
            (2, base + " with a tiny edit"),  # near-dup of probe 100
            (3, "completely unrelated text about parquet shuffle plans"),
            # within-corpus dup of doc 1 — must NOT appear (left x left)
            (4, base),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, base), (200, "other held out benchmark prompt entirely")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_left"], r["doc_right"]): r["jaccard_r"]
        for r in minhash_cross_pairs(
            train, probes, "doc_id", "text", k=3, threshold=0.3
        ).collect()
    }
    assert (1, 100) in got and got[(1, 100)] == 1.0
    assert (4, 100) in got and got[(4, 100)] == 1.0
    assert (2, 100) in got and 0.3 <= got[(2, 100)] < 1.0
    # no within-corpus pairs, nothing matched the unrelated docs
    assert all(r in ((1, 100), (2, 100), (4, 100)) for r in got)
