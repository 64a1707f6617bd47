"""Text analysis scalar layer: tokens, shingles, language ID, quality."""

import math

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from hadoop_data_lake_spark.functions.text import (
    lang_id,
    ordered_shingles,
    quality_score,
    shingles,
    stopword_ratio,
    token_count,
    tokens,
)


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], "t string").select(col(F.col("t")).alias("v")).collect()[0]["v"]


def test_token_count(spark):
    assert _one(spark, "a b c", token_count) == 3
    assert _one(spark, "single", token_count) == 1


def test_shingles_short_text_falls_back_to_whole(spark):
    assert _one(spark, "a b", lambda c: shingles(c, 3)) == ["a b"]
    assert _one(spark, "a b c d", lambda c: shingles(c, 3)) == ["a b c", "b c d"]
    # distinct: repeated shingles collapse
    assert _one(spark, "x x x x", lambda c: shingles(c, 3)) == ["x x x"]


def _zip_with_shingles(text, k):
    """Reference ordered shingles: zip_with over k shifted slices of the
    single-space token array, joined with concat_ws."""
    w = tokens(text)
    n = F.size(w)
    parts = [F.slice(w, j + 1, n - (k - 1)) for j in range(k)]
    make = parts[-1]
    for part in reversed(parts[:-1]):
        make = F.zip_with(part, make, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= k, make).otherwise(F.array(text))


# token pieces: empty tokens come from runs of spaces; tabs and newlines
# are token characters, not separators; non-ASCII and supplementary
# (surrogate-pair) characters must not shift match positions
_PIECES = ["a", "bc", "ß", "é", "日本", "\U0001F600", "\t", "\n", "x\ty", " ", " ", "  "]
_EDGE_TEXTS = [None, "", " ", "  ", "a", "a b", " a", "a ", " a b c ", "a  b", "\U0001F600 \U0001F600"]
text_s = st.lists(st.sampled_from(_PIECES), max_size=14).map("".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(text_s, min_size=1, max_size=40))
def test_ordered_shingles_match_zip_with_reference(spark, texts):
    rows = [(i, t) for i, t in enumerate(_EDGE_TEXTS + texts)]
    df = spark.createDataFrame(rows, "i long, t string")
    for k in (1, 2, 3, 5):
        out = df.select(
            "i",
            ordered_shingles(F.col("t"), k).alias("got"),
            _zip_with_shingles(F.col("t"), k).alias("want"),
        ).collect()
        bad = [(rows[r["i"]][1], r["got"], r["want"]) for r in out if r["got"] != r["want"]]
        assert not bad, (k, bad[:3])


def test_ordered_shingles_projection_has_no_lambda(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    for build in (ordered_shingles, shingles):
        plan = (
            df.select(build(F.col("t"), 3).alias("sh"))
            ._jdf.queryExecution().executedPlan().toString().lower()
        )
        assert "lambdafunction" not in plan, plan
    # the reference form does show one, so the check is not vacuous
    ref = df.select(_zip_with_shingles(F.col("t"), 3))
    assert "lambdafunction" in ref._jdf.queryExecution().executedPlan().toString().lower()


def test_lang_id(spark):
    assert _one(spark, "the cat is on the mat and happy", lang_id) == "en"
    assert _one(spark, "der hund ist gut und treu", lang_id) == "de"
    assert _one(spark, "el perro es grande y fuerte", lang_id) == "es"
    assert _one(spark, "xyzzy plugh qwerty", lang_id) == "und"
    # 'la de' tie between es and fr resolves lexicographically -> es
    assert _one(spark, "la de", lang_id) == "es"


def test_quality_score_bounds_and_monotonicity(spark):
    low = _one(spark, "spam spam spam spam", quality_score)
    high = _one(spark, "the quick brown fox is one of a kind and jumps", quality_score)
    assert 0.0 <= low <= 1.0 and 0.0 <= high <= 1.0
    assert high > low


def test_stopword_ratio(spark):
    assert math.isclose(_one(spark, "the fox", stopword_ratio), 0.5)
    assert _one(spark, "fox wolf", stopword_ratio) == 0.0


def test_quality_gopher_filters_rules(spark):
    """Planted docs on both sides of each rule boundary."""
    from hadoop_data_lake_spark.queries import northstar_queries as NS
    import hadoop_data_lake_spark.core.io as io

    # 48 words: unique content words interleaved with stopwords -> every
    # 2-gram distinct, stopword-rich, clean digits
    good = " ".join(f"the word{i}" for i in range(24))
    short = "tiny doc"                                    # fails word count
    digits = " ".join(["123456789"] * 50)                 # fails digits + stopwords
    spam = " ".join(["buy"] * 60)                         # fails repetition
    docs = spark.createDataFrame(
        [(1, good, "en", "s", len(good)), (2, short, "en", "s", len(short)),
         (3, digits, "en", "s", len(digits)), (4, spam, "en", "s", len(spam))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = io.read_table
    try:
        io.read_table = lambda sp, sf, name, validate=True: docs
        NS.read_table = io.read_table
        out = {r["doc_id"]: r for r in NS.quality_gopher_filters(spark, "ignored").collect()}
    finally:
        io.read_table = orig
        NS.read_table = orig
    assert out[1]["keep"] is True and out[1]["ok_repetition"] is True
    assert out[2]["keep"] is False and out[2]["ok_word_count"] is False
    assert out[3]["keep"] is False and out[3]["ok_digit_ratio"] is False
    assert out[4]["keep"] is False and out[4]["ok_repetition"] is False
    assert out[4]["dup_2gram_ratio"] > 0.9


def test_pii_redact_counts_and_rewrite(spark):
    """doc_id 77 gets an email (77%7==0) AND a phone (77%11==0); the md5
    must reflect both substitutions."""
    from hadoop_data_lake_spark.queries import northstar_queries as NS
    import hashlib
    import hadoop_data_lake_spark.core.io as io

    docs = spark.createDataFrame(
        [(77, "hello world", "en", "s", 11), (5, "plain text", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = io.read_table
    try:
        io.read_table = lambda sp, sf, name, validate=True: docs
        NS.read_table = io.read_table
        out = {r["doc_id"]: r for r in NS.pii_redact(spark, "ignored").collect()}
    finally:
        io.read_table = orig
        NS.read_table = orig
    assert out[77]["n_emails"] == 1 and out[77]["n_phones"] == 1
    expected = hashlib.md5(b"hello world contact [EMAIL] call [PHONE]").hexdigest()
    assert out[77]["redacted_md5"] == expected
    assert out[5]["n_emails"] == 0 and out[5]["n_phones"] == 0
    assert out[5]["redacted_md5"] == hashlib.md5(b"plain text").hexdigest()


def test_decontaminate_finds_planted_overlap(spark):
    """Doc 97*2=194 is a probe (id % 97 == 0); doc 7 copies 5 of its words
    -> >= 2 shared 3-grams; doc 8 shares nothing."""
    from hadoop_data_lake_spark.queries import northstar_queries as NS
    import hadoop_data_lake_spark.core.io as io

    probe = "alpha beta gamma delta epsilon zeta eta theta"
    leak = "alpha beta gamma delta epsilon unrelated words here"
    clean = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(194, probe, "en", "s", 1), (7, leak, "en", "s", 1), (8, clean, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = io.read_table
    try:
        io.read_table = lambda sp, sf, name, validate=True: docs
        NS.read_table = io.read_table
        rows = NS.decontaminate_ngram_overlap(spark, "ignored").collect()
    finally:
        io.read_table = orig
        NS.read_table = orig
    got = {(r["doc_id"], r["probe_id"]): r["n_shared"] for r in rows}
    assert got == {(7, 194): 3}  # 3 shared 3-grams from the 5-word overlap


def test_source_mix_rebalance_hits_target(spark):
    """Kept counts per domain approach the smallest domain's size; decisions
    are deterministic across reruns."""
    from hadoop_data_lake_spark.queries.northstar_queries import source_mix_rebalance

    out = source_mix_rebalance(spark, "/root/testdata/sf0.01")
    rows = out.collect()
    kept = {}
    totals = {}
    for r in rows:
        totals[r["domain"]] = totals.get(r["domain"], 0) + 1
        if r["keep"]:
            kept[r["domain"]] = kept.get(r["domain"], 0) + 1
    min_n = min(totals.values())
    # every domain's kept count lands near the target (hash-threshold
    # sampling binomial tolerance), and the smallest keeps ~everything
    for dom, n in totals.items():
        assert kept[dom] <= n
        assert abs(kept[dom] - min_n) <= max(5, 0.35 * min_n)
    again = {(r["doc_id"], r["keep"]) for r in source_mix_rebalance(spark, "/root/testdata/sf0.01").collect()}
    assert again == {(r["doc_id"], r["keep"]) for r in rows}


def test_approx_top_k_overlaps_exact(spark):
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.northstar_queries import (
        token_heavy_hitters_approx,
    )
    from tests.conftest import SF_DIR

    approx = {r["token"] for r in token_heavy_hitters_approx(spark, SF_DIR).collect()}
    toks = (
        read_table(spark, SF_DIR, "documents")
        .select(F.explode_outer(F.split(F.col("text"), " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    exact = [
        r["tok"]
        for r in toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
        .collect()
    ]
    # the sketch must recover at least 80% of the true top-20 (in practice
    # it is exact on this vocabulary size)
    assert len(approx & set(exact)) >= 16


def test_kneser_ney_probabilities_sum_to_one_per_prefix(spark):
    """Interpolated KN is a proper distribution: for every prefix w1,
    sum over observed w2 of P(w2|w1) plus the continuation mass assigned
    to UNOBSERVED successors... restricted to the closed vocab here, the
    sum over ALL vocab successors equals 1. Verify on a tiny corpus by
    direct enumeration."""
    import itertools
    from collections import Counter

    corpus = ["a b a c a b", "b a b c"]
    bigrams = []
    for doc in corpus:
        t = doc.split()
        bigrams += list(zip(t, t[1:]))
    c12 = Counter(bigrams)
    c1 = Counter(w1 for w1, _ in bigrams)
    n1p_fwd = Counter(w1 for w1, _ in set(bigrams))
    n1p_bwd = Counter(w2 for _, w2 in set(bigrams))
    b_total = len(set(bigrams))
    vocab = sorted({w for doc in corpus for w in doc.split()})
    d = 0.75
    for w1 in c1:
        total = 0.0
        for w2 in vocab:
            total += max(c12[(w1, w2)] - d, 0.0) / c1[w1] + (
                d * n1p_fwd[w1] / c1[w1]
            ) * (n1p_bwd[w2] / b_total)
        # sums to 1 iff continuation distribution is normalized over the
        # closed vocab: sum n1p_bwd = b_total by construction.
        assert abs(total - 1.0) < 1e-9, (w1, total)


def test_kneser_ney_query_scores_every_multiword_doc(spark):
    from hadoop_data_lake_spark.queries.northstar_queries import doc_lm_kneser_ney

    out = doc_lm_kneser_ney(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 500
    assert all(r["kn_entropy_bits"] is not None and r["kn_entropy_bits"] > 0 for r in out)


def test_token_lang_mi_unknown_lang_excluded_by_construction(spark, tmp_path):
    """With a document whose lang is OUTSIDE the
    fixed 5-language domain, Spark and the DuckDB oracle must still agree
    — both now filter to the domain up front, where previously the Spark
    pivot dropped the unknown lang from n_total while the oracle's marg
    CTE counted all exploded tokens."""
    import duckdb
    import pandas as pd

    from hadoop_data_lake_spark.queries.northstar_queries import (
        TOKEN_LANG_MI_SQL,
        token_lang_mi,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "hello world hello",
                "bonjour monde",
                "ciao mondo hello hello hello",  # out-of-domain: must not count
                "hello welt",
            ],
            "lang": ["en", "fr", "it", "de"],
            "source": ["t", "t", "t", "t"],
            "n_chars": [17, 13, 29, 10],
        }
    )
    docs["doc_id"] = docs["doc_id"].astype("int64")
    docs["n_chars"] = docs["n_chars"].astype("int64")
    docs.to_parquet(tmp_path / "documents.parquet", index=False)

    sdf = token_lang_mi(spark, str(tmp_path)).toPandas()

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    odf = con.sql(TOKEN_LANG_MI_SQL).df()

    assert list(sdf.columns) == list(odf.columns)
    s_rows = sorted(map(tuple, sdf.itertuples(index=False)))
    o_rows = sorted(map(tuple, odf.itertuples(index=False)))
    assert s_rows == o_rows
    # the 'it' doc's three extra 'hello' occurrences are invisible:
    hello = sdf[sdf.token == "hello"]
    assert not hello.empty and int(hello.n_occurrences.iloc[0]) == 3
