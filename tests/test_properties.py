"""Property-based checks (hypothesis) — SURVEY.md §5.3.

Spark round-trips are batched: each property generates a LIST of cases,
runs them through one DataFrame, and checks all rows — one Spark job per
hypothesis example instead of one per case.
"""

import math

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from hadoop_data_lake_spark.functions.geo import haversine_km
from hadoop_data_lake_spark.operators.windows import top1_per_group

# A fast-math-compiled native extension in this container breaks hypothesis'
# signed-zero sanity check for float strategies; derive coordinates from
# integer strategies instead (1e-4 degree resolution).
lat_s = st.integers(min_value=-899_000, max_value=899_000).map(lambda v: v / 10_000.0)
lon_s = st.integers(min_value=-1_800_000, max_value=1_800_000).map(lambda v: v / 10_000.0)
coord_s = st.tuples(lat_s, lon_s)


def _py_haversine(lat1, lon1, lat2, lon2):
    rl1, rl2 = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1) / 2
    dlon = math.radians(lon2 - lon1) / 2
    a = math.sin(dlat) ** 2 + math.cos(rl1) * math.cos(rl2) * math.sin(dlon) ** 2
    return 2 * 6371.0 * math.asin(math.sqrt(min(1.0, a)))


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(coord_s, coord_s), min_size=1, max_size=30))
def test_haversine_matches_python_symmetric_bounded(spark, pairs):
    rows = [(i, a[0], a[1], b[0], b[1]) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(
        rows, "i long, lat1 double, lon1 double, lat2 double, lon2 double"
    )
    got = {
        r["i"]: (r["d"], r["rd"])
        for r in df.select(
            "i",
            haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d"),
            haversine_km(F.col("lat2"), F.col("lon2"), F.col("lat1"), F.col("lon1")).alias("rd"),
        ).collect()
    }
    for i, (a, b) in enumerate(pairs):
        d, rd = got[i]
        assert 0.0 <= d <= 20016.0
        assert math.isclose(d, rd, rel_tol=1e-9, abs_tol=1e-9)          # symmetry
        assert math.isclose(d, _py_haversine(*a, *b), rel_tol=1e-6, abs_tol=1e-6)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(-1000, 1000)),
        min_size=1,
        max_size=50,
    )
)
def test_top1_returns_group_minimum(spark, rows):
    data = [(k, v, i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, v long, uid long")
    got = {
        r["k"]: (r["v"], r["uid"])
        for r in top1_per_group(df, ["k"], [F.col("v").asc(), F.col("uid").asc()]).collect()
    }
    expect = {}
    for i, (k, v) in enumerate(rows):
        if k not in expect or (v, i) < expect[k]:
            expect[k] = (v, i)
    assert got == expect


vec_s = st.lists(
    st.integers(min_value=-1000, max_value=1000).map(lambda v: v / 100.0),
    min_size=64, max_size=64,
)


@settings(max_examples=3, deadline=None)
@given(st.lists(vec_s, min_size=2, max_size=20, unique_by=lambda v: tuple(v)))
def test_srp_band_keys_partition_invariant(spark, vecs):
    """Band keys are a pure per-row function: identical under any
    repartitioning (no float-sum shuffle nondeterminism)."""
    from hadoop_data_lake_spark.operators.similarity import srp_band_keys

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    one = {(r["__id"], r["band"], r["band_key"]) for r in srp_band_keys(df.repartition(1)).collect()}
    many = {(r["__id"], r["band"], r["band_key"]) for r in srp_band_keys(df.repartition(8)).collect()}
    assert one == many


@settings(max_examples=3, deadline=None)
@given(st.lists(vec_s, min_size=2, max_size=16, unique_by=lambda v: tuple(v)))
def test_banded_near_dup_subset_of_exact(spark, vecs):
    """Candidate/verify output is ALWAYS a subset of the exact all-pairs
    result (precision 1.0), for arbitrary vectors — not just planted dups."""
    from hadoop_data_lake_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_exact,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    banded = {(r["id_a"], r["id_b"], r["sim_r"]) for r in cosine_near_dup_pairs(df, threshold=0.9).collect()}
    exact = {(r["id_a"], r["id_b"], r["sim_r"]) for r in cosine_near_dup_pairs_exact(df, threshold=0.9).collect()}
    assert banded <= exact


def test_pii_redact_idempotent(spark):
    """Redacting already-redacted text is a no-op: the substitution tokens
    never match the patterns."""
    from hadoop_data_lake_spark.queries.northstar_queries import _EMAIL_RE, _PHONE_RE

    dirty = "reach me at a.b%c@mail-host.co or 555-1234 thanks"
    once = (
        spark.createDataFrame([(dirty,)], "t string")
        .select(
            F.regexp_replace(
                F.regexp_replace("t", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
            ).alias("r")
        )
        .collect()[0]["r"]
    )
    twice = (
        spark.createDataFrame([(once,)], "t string")
        .select(
            F.regexp_replace(
                F.regexp_replace("t", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
            ).alias("r")
        )
        .collect()[0]["r"]
    )
    assert once == "reach me at [EMAIL] or [PHONE] thanks"
    assert twice == once


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # user
            st.integers(min_value=0, max_value=50),  # ts
            st.sampled_from(["A", "B", None]),       # attr (incl. NULL)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_scd2_invariants(spark, rows):
    """For ANY event stream: per user, versions are 1..K dense, intervals
    chain (valid_to(v) == valid_from(v+1)), row counts sum to the input,
    exactly one open interval per user, and adjacent intervals never carry
    the same attribute (else they'd be one run)."""
    from hadoop_data_lake_spark.operators.scd import scd2_collapse

    data = [(u, t, i, a) for i, (u, t, a) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "user_id long, ts long, event_id long, attr string"
    )
    out = scd2_collapse(df, "user_id", ["ts", "event_id"], "attr").collect()

    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    n_input = {u: sum(1 for d in data if d[0] == u) for u in by_user}
    for u, ivs in by_user.items():
        ivs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in ivs] == list(range(1, len(ivs) + 1))
        assert sum(r["n_rows"] for r in ivs) == n_input[u]
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["attr"] != b["attr"] or (a["attr"] is None) != (b["attr"] is None)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=12),
        min_size=1,
        max_size=15,
    )
)
def test_span_dedup_invariants(spark, docs):
    """(1) every doc appears exactly once in the output; (2) kept <= total
    spans per doc; (3) each distinct span string survives in EXACTLY one
    doc across the corpus; (4) corpus-wide kept == number of distinct
    spans."""
    from hadoop_data_lake_spark.operators.spans import doc_spans, span_dedup_corpus

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup_corpus(df, "doc_id", "text", width=3).collect()}
    assert set(out) == set(range(len(docs)))
    assert all(0 <= r["n_kept"] <= r["n_spans"] for r in out.values())
    occ = doc_spans(df, "doc_id", "text", 3).collect()
    n_distinct = len({r["span_text"] for r in occ})
    assert sum(r["n_kept"] for r in out.values()) == n_distinct


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 20), st.sampled_from("abc"), st.integers(-50, 50)),
             min_size=0, max_size=25),
    st.lists(st.tuples(st.integers(0, 20), st.sampled_from("abc"), st.integers(-50, 50)),
             min_size=0, max_size=25),
)
def test_snapshot_delta_fold_property(spark, old_rows, new_rows):
    """For ARBITRARY snapshots (dedup on key): agg(old) + delta == agg(new)
    per group, for count and sum."""
    from hadoop_data_lake_spark.operators.merge import snapshot_delta

    old_rows = list({k: (k, g, v) for k, g, v in old_rows}.values())
    new_rows = list({k: (k, g, v) for k, g, v in new_rows}.values())
    schema = "k long, grp string, v long"
    old = spark.createDataFrame(old_rows, schema) if old_rows else spark.createDataFrame([], schema)
    new = spark.createDataFrame(new_rows, schema) if new_rows else spark.createDataFrame([], schema)

    delta = snapshot_delta(old, new, keys=["k"]).collect()
    folded: dict[str, list[int]] = {}
    for k, g, v in old_rows:
        folded.setdefault(g, [0, 0])
        folded[g][0] += 1
        folded[g][1] += v
    for r in delta:
        folded.setdefault(r["grp"], [0, 0])
        folded[r["grp"]][0] += r["sign"]
        folded[r["grp"]][1] += r["sign"] * r["v"]
    folded = {g: t for g, t in folded.items() if t[0] != 0 or t[1] != 0}

    direct: dict[str, list[int]] = {}
    for k, g, v in new_rows:
        direct.setdefault(g, [0, 0])
        direct[g][0] += 1
        direct[g][1] += v
    direct = {g: t for g, t in direct.items() if t[0] != 0 or t[1] != 0}
    assert folded == direct


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_winnow_shared_window_guarantee_random(spark, data):
    """Random docs sharing a random (window+k-1)-token run must share a
    fingerprint — the winnowing guarantee under arbitrary surroundings."""
    from hadoop_data_lake_spark.operators.dedup import winnow_fingerprints

    vocab = [f"t{i}" for i in range(30)]
    k, w = 3, 4
    shared = data.draw(st.lists(st.sampled_from(vocab), min_size=k + w - 1, max_size=k + w - 1))
    pre1 = data.draw(st.lists(st.sampled_from(vocab), min_size=0, max_size=8))
    post1 = data.draw(st.lists(st.sampled_from(vocab), min_size=0, max_size=8))
    pre2 = data.draw(st.lists(st.sampled_from(vocab), min_size=0, max_size=8))
    post2 = data.draw(st.lists(st.sampled_from(vocab), min_size=0, max_size=8))
    rows = [
        (1, " ".join(pre1 + shared + post1)),
        (2, " ".join(pre2 + shared + post2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc"]: set(r["fps"].split(",")) for r in
           winnow_fingerprints(df, "doc_id", "text", k=k, window=w).collect()}
    assert out[1] & out[2]


def _py_phash(b: bytes) -> int:
    """Pure-Python mirror of operators/multimodal.perceptual_hash."""
    n = len(b)
    segs = 61
    cs = [0]
    for x in b:
        cs.append(cs[-1] + x)
    bounds = [(k * n) // segs for k in range(segs + 1)]
    sums = [cs[bounds[k + 1]] - cs[bounds[k]] for k in range(segs)]
    h = 0
    for k in range(60):
        if sums[k] > sums[k + 1]:
            h |= 1 << (59 - k)
    return h


ascii_text_s = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=1,
    max_size=200,
)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            ascii_text_s,
            st.integers(min_value=0, max_value=10_000),
            st.characters(min_codepoint=33, max_codepoint=126),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_phash_matches_python_and_byte_edit_locality(spark, cases):
    """(a) the Arrow phash equals the pure-Python reference on arbitrary
    ASCII blobs; (b) a single length-preserving byte substitution moves at
    most one segment sum and therefore at most TWO gradient bits — the
    locality guarantee the near-dup banding relies on."""
    from hadoop_data_lake_spark.operators.multimodal import perceptual_hash

    rows = []
    expected = {}
    for i, (text, pos, ch) in enumerate(cases):
        orig = text.encode("ascii")
        p = pos % len(orig)
        edited = orig[:p] + ch.encode("ascii") + orig[p + 1 :]
        rows.append((2 * i, bytearray(orig)))
        rows.append((2 * i + 1, bytearray(edited)))
        expected[2 * i] = _py_phash(orig)
        expected[2 * i + 1] = _py_phash(edited)
    df = spark.createDataFrame(rows, "media_id long, media binary")
    got = {r["media_id"]: r["phash"] for r in perceptual_hash(df).collect()}
    assert got == expected
    for i in range(len(cases)):
        ham = bin(got[2 * i] ^ got[2 * i + 1]).count("1")
        assert ham <= 2, f"case {i}: single byte edit moved {ham} bits"


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=6, max_size=6),
            st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=6, max_size=6),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_dtw_udf_identity_symmetry_and_alignment_bound(spark, pairs):
    """The REAL Arrow DTW kernel (operators/timeseries.dtw_distance_col)
    must satisfy the DTW invariants on arbitrary integer series: d(x,x)=0,
    d(x,y)=d(y,x), and warping never costs more than the straight diagonal
    alignment (sum of squared pointwise diffs)."""
    from hadoop_data_lake_spark.operators.timeseries import dtw_distance_col

    rows = []
    for i, (x, y) in enumerate(pairs):
        rows.append((3 * i, x, y))        # d(x, y)
        rows.append((3 * i + 1, y, x))    # d(y, x)
        rows.append((3 * i + 2, x, x))    # d(x, x)
    df = spark.createDataFrame(rows, "i long, a array<long>, b array<long>")
    got = {
        r["i"]: r["d"]
        for r in df.withColumn("d", dtw_distance_col("a", "b", length=6)).collect()
    }
    for i, (x, y) in enumerate(pairs):
        assert got[3 * i + 2] == 0
        assert got[3 * i] == got[3 * i + 1]
        assert got[3 * i] <= sum((p - q) ** 2 for p, q in zip(x, y))


@given(
    st.lists(
        st.tuples(st.integers(-10**6, 10**6), st.integers(-10**6, 10**6)),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 7),
)
@settings(max_examples=12, deadline=None)
def test_prefix_agg_matches_serial_fold_random(spark, vals, nparts):
    """prefix_agg running sum + running max == serial fold for arbitrary
    (incl. negative) values and any partition count."""
    from hadoop_data_lake_spark.operators.packing import prefix_agg

    rows = [(i, v, m) for i, (v, m) in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long, m long")
    got = {
        r["id"]: (r["cum"], r["cmax"])
        for r in prefix_agg(
            df, "id", sum_cols={"cum": "v"}, max_cols={"cmax": "m"},
            num_partitions=nparts,
        ).collect()
    }
    run = 0
    mx = None
    for i, v, m in rows:
        run += v
        mx = m if mx is None or m > mx else mx
        assert got[i] == (run, mx), i


@given(
    st.lists(
        st.text(alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyzAEIOUYHW"),
                min_size=1, max_size=12),
        min_size=1, max_size=20, unique=True,
    )
)
@settings(max_examples=10, deadline=None)
def test_soundex_sql_matches_spark_random_words(spark, words):
    """The pure-SQL soundex replay equals Spark's F.soundex on random
    alphabetic words (vowel/h/w-heavy alphabet stresses the collapse and
    strip rules)."""
    import duckdb
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.functions.phonetic import soundex_sql

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


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_asof_all_directions_match_merge_asof_random(spark, data):
    """asof_join (the union + running-window formulation) must agree with
    pandas merge_asof on random per-key series in all three directions —
    the boundary semantics (inclusive <=/>=, nearest's backward tie) are
    exactly where a window-frame off-by-one would hide. Right timestamps
    are unique per key so the comparison is tie-free (the operator's
    duplicate-ts tie-break is pinned by test_asof_backward_semantics)."""
    import pandas as pd

    from hadoop_data_lake_spark.operators.asof import asof_join

    ts_list = st.lists(
        st.integers(min_value=0, max_value=60), min_size=1, max_size=7, unique=True
    )
    lrows, rrows, px = [], [], 0
    for k in (1, 2, 3):
        for t in data.draw(ts_list, label=f"left ts k={k}"):
            lrows.append((k, t, len(lrows)))
        for t in data.draw(ts_list, label=f"right ts k={k}"):
            px += 1
            rrows.append((k, t, px * 10))
    left = spark.createDataFrame(lrows, "k long, lts long, lid long")
    right = spark.createDataFrame(rrows, "k long, rts long, px long")
    lp = pd.DataFrame(lrows, columns=["k", "lts", "lid"]).sort_values("lts")
    rp = pd.DataFrame(rrows, columns=["k", "rts", "px"]).sort_values("rts")

    for direction in ("backward", "forward", "nearest"):
        got = {
            r["lid"]: r["px"]
            for r in asof_join(
                left, right, on="k", left_ts="lts", right_ts="rts",
                direction=direction,
            ).collect()
        }
        ref_df = pd.merge_asof(
            lp, rp, left_on="lts", right_on="rts", by="k", direction=direction
        )
        ref = {
            int(r.lid): (None if pd.isna(r.px) else int(r.px))
            for r in ref_df.itertuples()
        }
        assert got == ref, f"direction={direction}"


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),   # src
            st.integers(min_value=0, max_value=60),   # dst (self-loops allowed)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_match_union_find_random(spark, pairs):
    """connected_components (alternating two-star, O(log n) rounds) must
    equal a serial union-find on arbitrary edge lists — duplicates,
    reversed duplicates, and self-loops included. component = min
    reachable vertex id, every edge-touched vertex present exactly once."""
    from hadoop_data_lake_spark.operators.graph import connected_components

    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    min_of_root: dict[int, int] = {}
    for v in parent:
        r = find(v)
        min_of_root[r] = min(min_of_root.get(r, v), v)
    want = {v: min_of_root[find(v)] for v in parent}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # key
            st.integers(min_value=0, max_value=20_000),  # seconds offset
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_sessionize_matches_serial_fold_random(spark, rows):
    """sessionize (lag + conditional cumsum) must equal a serial per-key
    fold: a new session exactly when the gap to the previous event
    EXCEEDS gap_seconds (strict >, the session_window alignment rule);
    session ids are 1-based and contiguous per key."""
    import datetime as dt

    from hadoop_data_lake_spark.operators.windows import sessionize

    gap = 1800
    base = dt.datetime(2024, 3, 1)
    data = [
        (i, k, base + dt.timedelta(seconds=s))
        for i, (k, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "id long, k long, ts timestamp")
    got = {
        r["id"]: r["session_id"]
        for r in sessionize(df, ["k"], "ts", gap_seconds=gap).collect()
    }

    want = {}
    by_key: dict[int, list] = {}
    for i, (k, s) in enumerate(rows):
        by_key.setdefault(k, []).append((s, i))
    for k, evs in by_key.items():
        evs.sort()
        sid, prev = 0, None
        for s, i in evs:
            if prev is None or s - prev > gap:
                sid += 1
            want[i] = sid
            prev = s
    assert got == want


def _sign_keys_reference(vec, planes, bands, bits, scale):
    """Pure-Python bit loop: bit p is 1 iff <v, plane_p> >= 0, and band b's
    key reads bits b*bits .. b*bits+bits-1 most significant first."""
    if scale is not None:
        vec = [math.floor(x * scale) for x in vec]
        planes = [[int(w) for w in plane] for plane in planes]
    keys = []
    for b in range(bands):
        key = 0
        for r in range(bits):
            proj = sum(x * w for x, w in zip(vec, planes[b * bits + r]))
            key = (key << 1) | (1 if proj >= 0 else 0)
        keys.append(key)
    return keys


@settings(max_examples=80, deadline=None)
@given(st.data())
def test_sign_keys_udf_matches_bit_loop_reference(data):
    """`_sign_keys_udf` equals the bit loop on random vectors, zero and
    negative components included, for the float path (Gaussian and +/-1
    planes) and the exact int64 path. Float-path inputs are dyadic (k/64
    components; Gaussian planes rounded to 2^-20), so every projection is
    exact in any summation order and the comparison is exact too."""
    import numpy as np
    import pandas as pd

    from hadoop_data_lake_spark.operators.similarity import (
        _hyperplanes,
        _sign_keys_udf,
        _srp_weights,
    )

    bands = data.draw(st.integers(1, 4))
    bits = data.draw(st.integers(1, 8))
    dim = data.draw(st.integers(1, 12))
    kind = data.draw(st.sampled_from(["gaussian", "rademacher", "int64"]))
    scale = None
    if kind == "gaussian":
        seed = data.draw(st.integers(0, 1000))
        planes = np.round(_hyperplanes(dim, bands, bits, seed) * 2**20) / 2**20
        planes = planes.reshape(bands * bits, dim)
        comp = st.integers(-4096, 4096).map(lambda k: k / 64.0)
    elif kind == "rademacher":
        planes = _srp_weights(bands * bits, dim)
        comp = st.integers(-4096, 4096).map(lambda k: k / 64.0)
    else:
        planes = _srp_weights(bands * bits, dim)
        scale = data.draw(st.sampled_from([1, 7, 1000, 1_000_000]))
        comp = st.integers(-10**6, 10**6).map(lambda k: k / 10**6)
    vecs = data.draw(
        st.lists(st.lists(comp, min_size=dim, max_size=dim), min_size=1, max_size=6)
    )
    udf = _sign_keys_udf(planes, bands, bits, scale=scale)
    got = udf.func(pd.Series([np.array(v) for v in vecs]))
    want = [_sign_keys_reference(v, planes.tolist(), bands, bits, scale) for v in vecs]
    assert [list(map(int, keys)) for keys in got] == want
