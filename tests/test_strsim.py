"""Jaro-Winkler (functions/strsim.py): DuckDB bit-parity and metric laws;
the Soundex DuckDB replay (functions/phonetic.py) against Spark.

The registry oracle (linkage_jaro_winkler) already proves parity on the
blocked part-name pairs; these tests pin the metric itself on adversarial
cases and the published reference values."""

from __future__ import annotations

import duckdb
import pytest

from hadoop_data_lake_spark.functions.strsim import jaro_sim, jaro_winkler_sim

REFERENCE = [
    # (a, b, expected jaro-winkler) — classic published examples
    ("MARTHA", "MARHTA", 0.9611111111111111),
    ("DWAYNE", "DUANE", 0.8400000000000001),
    ("DIXON", "DICKSONX", 0.8133333333333332),
]


def test_published_reference_values():
    for a, b, want in REFERENCE:
        assert abs(jaro_winkler_sim(a, b) - want) < 1e-12, (a, b)


def test_metric_laws():
    assert jaro_winkler_sim("abc", "abc") == 1.0
    assert jaro_winkler_sim("", "abc") == 0.0
    assert jaro_winkler_sim("abc", "") == 0.0
    assert jaro_winkler_sim("", "") == 1.0  # equal strings short-circuit
    # symmetry
    for a, b in [("crate", "trace"), ("hello", "hallo"), ("ab", "ba")]:
        assert jaro_winkler_sim(a, b) == jaro_winkler_sim(b, a)


def test_boost_threshold_matches_duckdb_below_07():
    """The Winkler boost applies only above jaro 0.7 (DuckDB semantics);
    a shared prefix with low overall similarity must NOT be boosted."""
    a, b = "old anvil", "old rod"
    assert jaro_sim(a, b) < 0.7
    assert jaro_winkler_sim(a, b) == jaro_sim(a, b)


@pytest.mark.parametrize("seed", [0, 1])
def test_duckdb_bit_parity_on_random_corpus_pairs(seed):
    import random

    con = duckdb.connect()
    names = [
        r[0]
        for r in con.sql(
            "SELECT p_name FROM '/root/testdata/sf0.001/part.parquet' LIMIT 120"
        ).fetchall()
    ]
    rng = random.Random(seed)
    for _ in range(500):
        a, b = rng.choice(names), rng.choice(names)
        want = con.sql(
            "SELECT jaro_winkler_similarity(?, ?)", params=[a, b]
        ).fetchone()[0]
        assert jaro_winkler_sim(a, b) == pytest.approx(want, abs=1e-13), (a, b)


def test_rrf_top20_is_consistent(spark):
    from hadoop_data_lake_spark.queries.northstar_queries import rrf_hybrid_retrieval

    out = rrf_hybrid_retrieval(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 20
    # fused score must be monotone in the returned order's re-sort and each
    # component rank a valid 1..499 integer
    scores = sorted((r["rrf_r"] for r in out), reverse=True)
    assert scores[0] <= 2.0 / 61.0 + 1e-12
    for r in out:
        assert 1 <= r["r_lex"] <= 499 and 1 <= r["r_vec"] <= 499


def test_soundex_sql_matches_spark_on_classic_vectors(spark):
    """The DuckDB soundex replay equals Spark's F.soundex on the classic
    edge-case vectors (collapse through h/w, first-letter runs, vowels)."""
    import duckdb
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.functions.phonetic import soundex_sql

    words = [
        "Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak", "Pfister",
        "Honeyman", "Wright", "Hughes", "AA", "MM", "Momo", "jackson",
        "washington", "lee", "gutierrez",
    ]
    got_spark = {
        r["w"]: r["sx"]
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", F.soundex("w").alias("sx"))
        .collect()
    }
    con = duckdb.connect()
    for w in words:
        (code,) = con.sql(f"SELECT {soundex_sql(repr(w))}").fetchone()
        assert code == got_spark[w], (w, code, got_spark[w])
