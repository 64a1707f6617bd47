"""Empty/degenerate inputs must produce empty (not crashing) results, and
the degenerate-input sweep (tools/degenerate_sweep.py) pinned as tests."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from hadoop_data_lake_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs
from hadoop_data_lake_spark.operators.graph import connected_components
from hadoop_data_lake_spark.operators.similarity import brute_force_topk
from hadoop_data_lake_spark.operators.timeseries import time_grid_ffill
from hadoop_data_lake_spark.operators.windows import sessionize, top1_per_group


def test_empty_docs(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedup(empty, "doc_id", "text").count() == 0
    assert ngram_jaccard_pairs(empty, "doc_id", "text").count() == 0
    assert minhash_lsh_pairs(empty, "doc_id", "text").count() == 0


def test_empty_edges(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0


def test_empty_vectors(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert brute_force_topk(empty, empty).count() == 0


def test_single_row_inputs(spark):
    one = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "k long, s string").withColumn(
        "ts", F.to_timestamp("s")
    )
    assert top1_per_group(one, ["k"], [F.col("ts").asc()]).count() == 1
    sess = sessionize(one, ["k"], "ts", gap_seconds=60).collect()
    assert sess[0]["session_id"] == 1
    filled = time_grid_ffill(
        one.withColumn("v", F.lit(1.0)), ["k"], "ts", "v", bucket_seconds=600
    ).collect()
    assert len(filled) == 1 and filled[0]["v"] == 1.0 and filled[0]["observed"]


def test_approx_percentiles_bounded_error(spark):
    """percentile_approx (accuracy=10000) must sit within 1% relative error
    of the exact percentile at gate scale — the sketch is the 100 TB path,
    the exact percentile is the oracle-checked one."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY
    from hadoop_data_lake_spark.core.io import read_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    approx = {
        r["event_type"]: r["approx_pcts"]
        for r in REGISTRY["value_percentiles_approx"].fn(spark, sf).collect()
    }
    exact = {
        r["event_type"]: r["pcts"]
        for r in read_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.percentile("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))).alias("pcts"))
        .collect()
    }
    assert set(approx) == set(exact) and approx
    for et in exact:
        for a, e in zip(approx[et], exact[et]):
            assert abs(a - e) <= 0.01 * max(abs(e), 1.0), (et, a, e)


def test_pq_rejects_indivisible_subspaces(spark):
    import pytest as _pytest

    from hadoop_data_lake_spark.operators.similarity import pq_train

    df = spark.createDataFrame([(1, [0.0] * 10)], "vec_id long, embedding array<float>")
    with _pytest.raises(AssertionError):
        pq_train(df, m=3, nbits=2, dim=10)


def test_shard_plan_single_shard_is_identity_order(spark):
    from hadoop_data_lake_spark.operators.packing import shuffle_shard_plan

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    rows = shuffle_shard_plan(df, "doc_id", n_shards=1).collect()
    assert all(r["shard"] == 0 for r in rows)
    assert sorted(r["pos_in_shard"] for r in rows) == list(range(50))


def test_scd2_multi_key_partitions_independently(spark):
    from hadoop_data_lake_spark.operators.scd import scd2_collapse

    rows = [
        ("eu", 1, 1, 1, "A"), ("eu", 1, 2, 2, "B"),
        ("us", 1, 1, 3, "A"), ("us", 1, 2, 4, "A"),
    ]
    df = spark.createDataFrame(
        rows, "region string, uid long, ts long, event_id long, attr string"
    )
    out = scd2_collapse(df, ["region", "uid"], ["ts", "event_id"], "attr").collect()
    per_key = {}
    for r in out:
        per_key.setdefault((r["region"], r["uid"]), []).append(r)
    assert len(per_key[("eu", 1)]) == 2  # A then B
    assert len(per_key[("us", 1)]) == 1  # one collapsed run


def test_snapshot_diff_empty_sides(spark):
    from hadoop_data_lake_spark.operators.merge import snapshot_diff

    empty = spark.createDataFrame([], "k long, v double")
    full = spark.createDataFrame([(1, 1.0)], "k long, v double")
    assert snapshot_diff(empty, empty, keys=["k"]).count() == 0
    ins = snapshot_diff(empty, full, keys=["k"]).collect()
    assert [(r["op"], r["k"]) for r in ins] == [("I", 1)]
    dels = snapshot_diff(full, empty, keys=["k"]).collect()
    assert [(r["op"], r["k"]) for r in dels] == [("D", 1)]


def test_triangle_count_empty_and_no_triangle_graphs(spark):
    from hadoop_data_lake_spark.operators.graph import triangle_count

    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_count(chain).count() == 0
    empty = spark.createDataFrame([], "src long, dst long")
    assert triangle_count(empty).count() == 0


def test_winnow_single_token_doc(spark):
    """Shorter-than-k docs fall back to the whole-text shingle: exactly one
    fingerprint, never an empty array or a crash."""
    from hadoop_data_lake_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame([(1, "solo"), (2, "two words")], "doc_id long, text string")
    out = {r["doc"]: r for r in winnow_fingerprints(df, "doc_id", "text", k=3, window=4).collect()}
    assert out[1]["n_fps"] == 1 and out[2]["n_fps"] == 1


def test_span_dedup_width_exceeds_doc(spark):
    """A doc shorter than the span width is a single (short) span; exact
    duplicates still collapse to the first doc."""
    from hadoop_data_lake_spark.operators.spans import span_dedup_corpus

    df = spark.createDataFrame([(1, "a b"), (2, "a b")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup_corpus(df, "doc_id", "text", width=5).collect()}
    assert out[1]["n_spans"] == 1 and out[1]["n_kept"] == 1
    assert out[2]["n_kept"] == 0 and out[2]["clean_text"] == ""


def test_ewma_single_event_user(spark):
    """One event => EWMA is that value (the fold over the empty tail is the
    init)."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.queries.events_queries import user_value_ewma
    # build a tiny events table in the driver layout and run via a temp dir
    import tempfile

    d = tempfile.mkdtemp(prefix="ewma_edge_")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "view", 42.5, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = user_value_ewma(spark, d).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 1 and out[0]["ewma_r"] == 42.5


def test_snapshot_delta_identical_snapshots_is_empty(spark):
    from hadoop_data_lake_spark.operators.merge import snapshot_delta

    df = spark.createDataFrame([(1, "x", 1.0), (2, "y", None)], "k long, s string, v double")
    assert snapshot_delta(df, df, keys=["k"]).count() == 0


def test_bloom_prefilter_prunes_and_admits_all_matches(spark):
    """The bloom candidate set must (a) contain every true match — no false
    negatives, the correctness half — and (b) actually prune, the
    performance half: candidates ~ matches << orders at the ~1.4% bit-fill
    this segment produces."""
    from hadoop_data_lake_spark.queries.tpch_queries import bloom_semijoin_orders

    sf = "/root/testdata/sf0.001"
    from hadoop_data_lake_spark.core.io import read_table
    import pyspark.sql.functions as F

    result = bloom_semijoin_orders(spark, sf)
    orders = read_table(spark, sf, "orders")
    cust = read_table(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    true_matches = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_semi"
    )
    n_res, n_true, n_all = result.count(), true_matches.count(), orders.count()
    assert n_res == n_true
    assert 0 < n_true < n_all


def test_target_encoding_oof_mean_excludes_own_fold(spark):
    """Hand-check on a 2-type, 2-fold-ish frame: the out-of-fold mean for a
    fold must equal the mean over the OTHER folds' rows only."""
    import pyspark.sql.functions as F
    from hadoop_data_lake_spark.functions.fixedpoint import to_units
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("a", 0, 10.0), ("a", 0, 20.0), ("a", 1, 40.0), ("b", 0, 5.0), ("b", 1, 7.0)],
        ["t", "fold", "v"],
    )
    per = df.groupBy("t", "fold").agg(
        F.count("*").alias("n"), F.sum(to_units(F.col("v"))).alias("s")
    )
    w = Window.partitionBy("t")
    oof = per.select(
        "t",
        "fold",
        (
            (F.sum("s").over(w) - F.col("s")).cast("double")
            / ((F.sum("n").over(w) - F.col("n")).cast("double") * 100.0)
        ).alias("m"),
    )
    got = {(r["t"], r["fold"]): r["m"] for r in oof.collect()}
    assert got[("a", 0)] == 40.0  # only fold 1's row
    assert got[("a", 1)] == 15.0  # mean(10, 20)
    assert got[("b", 0)] == 7.0 and got[("b", 1)] == 5.0


def test_autocorr_perfect_linear_series_is_one(spark):
    """A strictly linear daily series has ACF exactly 1 at every lag under
    the integer-moment formula (the numerator/denominator collapse is
    exact, no float drift)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    days = spark.range(30).select(
        F.lit("t").alias("event_type"),
        F.col("id").alias("day"),
        (F.col("id") * 100 + 7).alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = days.select(
        "event_type", "x", F.lag("x", 1).over(w).alias("y")
    ).where(F.col("y").isNotNull())
    mom = lagged.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).first()
    n, sx, sy, sxy, sxx, syy = (mom[c] for c in ["n", "sx", "sy", "sxy", "sxx", "syy"])
    num = n * sxy - sx * sy
    den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    assert num * num == den2  # exact integer identity for a linear series


def test_holt_smoothing_matches_serial_fold(spark):
    """The array-state aggregate() fold must equal the plain-Python Holt
    recurrence over the same ordered values."""
    import pyspark.sql.functions as F
    from datetime import datetime, timedelta

    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 18.0]
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(hours=i), i, v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    per_user = df.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("vals")
    )
    state = F.expr(
        "aggregate(slice(vals, 3, size(vals) - 2), "
        "array(element_at(vals, 2), element_at(vals, 2) - element_at(vals, 1)), "
        "(acc, x) -> array("
        "  0.3D * x + 0.7D * (acc[0] + acc[1]), "
        "  0.1D * ((0.3D * x + 0.7D * (acc[0] + acc[1])) - acc[0]) + 0.9D * acc[1]))"
    )
    got = per_user.select(state[0].alias("l"), state[1].alias("b")).first()

    l, b = vals[1], vals[1] - vals[0]
    for v in vals[2:]:
        nl = 0.3 * v + 0.7 * (l + b)
        b = 0.1 * (nl - l) + 0.9 * b
        l = nl
    assert got["l"] == l and got["b"] == b


def test_bootstrap_ci_brackets_point_estimate(spark):
    """Order-statistic CI from 32 Poisson resamples must bracket the point
    mean (a resampling scheme that fails this is miscoded, not unlucky —
    the draws are deterministic)."""
    from hadoop_data_lake_spark.queries.events_queries import bootstrap_mean_ci

    out = bootstrap_mean_ci(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 5
    for r in out:
        assert r["ci_lo_r"] <= r["mean_r"] <= r["ci_hi_r"], r
        assert r["ci_lo_r"] < r["ci_hi_r"]


def test_rolling_7d_distinct_never_below_daily_distinct(spark):
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.events_queries import (
        rolling_7d_distinct_users,
    )

    sf = "/root/testdata/sf0.001"
    u7 = {r["day"]: r["u7"] for r in rolling_7d_distinct_users(spark, sf).collect()}
    daily = {
        str(r["day"]): r["u"]
        for r in read_table(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    for day, u in daily.items():
        assert u7[day] >= u, (day, u7[day], u)


def test_pareto_frontier_soundness_and_completeness(spark):
    """No frontier point may be dominated (strictly later AND strictly
    pricier other order), and every non-frontier point must be dominated —
    checked by brute force at sf0.001."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units
    from hadoop_data_lake_spark.queries.tpch_queries import pareto_frontier_orders

    sf = "/root/testdata/sf0.001"
    frontier = {r["o_orderkey"] for r in pareto_frontier_orders(spark, sf).collect()}
    pts = {
        r["o_orderkey"]: (str(r["d"]), r["c"])
        for r in read_table(spark, sf, "orders")
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("d"),
            to_units(F.col("o_totalprice")).alias("c"),
        )
        .collect()
    }
    def dominated(k):
        d, c = pts[k]
        return any(d2 > d and c2 > c for d2, c2 in pts.values())
    for k in pts:
        assert (k in frontier) == (not dominated(k)), k


def test_sampled_quantiles_close_to_exact(spark):
    """The 10% deterministic hash sample's order-statistic p50/p90 must
    land near the exact full-data order statistics (fixed hash: either
    the estimator works or it's miscoded)."""
    from hadoop_data_lake_spark.queries.events_queries import quantile_sample_det

    out = quantile_sample_det(spark, "/root/testdata/sf0.01").collect()
    assert len(out) == 5
    for r in out:
        assert r["smp_n"] < r["full_n"] // 5  # ~10% sample
        for p in ("p50", "p90"):
            exact = r[f"full_{p}"]
            got = r[f"smp_{p}"]
            # ~200 samples/type; order-statistic relative error on this
            # heavy-tailed value distribution stays well inside 25%
            assert abs(got - exact) / max(abs(exact), 1) < 0.25, (r["event_type"], p)


def test_kaplan_meier_survival_is_monotone_nonincreasing(spark):
    from hadoop_data_lake_spark.queries.events_queries import kaplan_meier_churn

    out = sorted(
        kaplan_meier_churn(spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["t"],
    )
    assert len(out) > 3
    prev = 1.0
    for r in out:
        assert 0.0 <= r["surv_r"] <= prev + 1e-9, r
        prev = r["surv_r"]
    # risk sets shrink as t grows
    risks = [r["n_risk"] for r in out]
    assert risks == sorted(risks, reverse=True)


def test_kaplan_meier_known_example(spark):
    """Classic hand-checked KM: times [1,1,2,3+] (3+ censored at horizon).
    S(1) = 1 - 2/4 = 0.5; S(2) = 0.5 * (1 - 1/2) = 0.25. Reproduced by
    building an event frame with matching first-event/purchase days."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    # users 1,2 purchase at day 1; user 3 at day 2; user 4 never (active to day 3)
    for uid, pday in [(1, 1), (2, 1), (3, 2)]:
        rows.append((uid, base, "view", 1.0, None))
        rows.append((uid, base + dt.timedelta(days=pday), "purchase", 1.0, None))
    rows.append((4, base, "view", 1.0, None))
    rows.append((4, base + dt.timedelta(days=3), "view", 1.0, None))
    df = spark.createDataFrame(
        [(i, ts, uid, et, v) for i, (uid, ts, et, v, _) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    ev = df.select("user_id", "event_type", F.to_date("ts").alias("day"))
    span = ev.groupBy("user_id").agg(
        F.min("day").alias("first_day"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("day"))).alias("fp"),
    )
    horizon = ev.agg(F.max("day").alias("max_day"))
    users = span.crossJoin(F.broadcast(horizon)).select(
        F.datediff(F.coalesce("fp", "max_day"), "first_day").alias("t"),
        F.col("fp").isNotNull().cast("int").alias("churned"),
    )
    got = {(r["t"]): (r["churned"]) for r in users.collect()}
    assert got == {1: 1, 2: 1, 3: 0}  # durations per spec (two users at t=1)


def test_largest_remainder_split_conserves_every_cent(spark):
    """Per-purchase credits must sum to the purchase cents exactly for
    every purchase — the invariant float splitting cannot give."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units

    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        to_units(F.col("value")).alias("cents"),
    )
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        F.col("user_id").alias("tu"),
        F.col("ts").alias("tts"),
    )
    paired = purchases.join(
        touches,
        (F.col("pu") == F.col("tu"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS")),
    )
    w = Window.partitionBy("pid").orderBy(F.col("tts").asc(), F.col("tid").asc())
    credited = (
        paired.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("pid")))
        .withColumn(
            "credit",
            F.expr("cents div n")
            + (F.col("rk") <= F.col("cents") % F.col("n")).cast("long"),
        )
    )
    per_purchase = credited.groupBy("pid", "cents").agg(
        F.sum("credit").alias("sum_credit")
    )
    bad = per_purchase.where(F.col("sum_credit") != F.col("cents")).count()
    assert bad == 0
    assert per_purchase.count() > 0


def test_conformal_interval_achieves_nominal_coverage(spark):
    """The split-conformal guarantee: >= 90% of FRESH points (here the
    calibration slice itself re-checked — a lower bound on honest
    coverage since residual ranks were computed on it) fall inside
    [lo, hi]. With the deterministic hash split this either holds or the
    order-statistic indexing is off by one."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units
    from hadoop_data_lake_spark.functions.hashing import md5_60bit
    from hadoop_data_lake_spark.queries.events_queries import (
        conformal_value_interval,
    )

    sf = "/root/testdata/sf0.01"
    iv = {
        r["event_type"]: (r["lo_r"], r["hi_r"])
        for r in conformal_value_interval(spark, sf).collect()
    }
    ev = (
        read_table(spark, sf, "events")
        .select(
            "event_type",
            (md5_60bit(F.col("event_id").cast("string")) % 2).alias("half"),
            (to_units(F.col("value")) / 100.0).alias("v"),
        )
        .where(F.col("half") == 1)
    )
    rows = ev.collect()
    for et, (lo, hi) in iv.items():
        pts = [r["v"] for r in rows if r["event_type"] == et]
        inside = sum(1 for v in pts if lo <= v <= hi)
        assert inside / len(pts) >= 0.90, (et, inside / len(pts))


def test_bitemporal_corrections_supersede_originals(spark):
    """At a transaction time AFTER a correction lands, the corrected key
    must be visible ONLY as version 2, and unver sioned keys as version 1
    — no key may appear twice in one bitemporal snapshot."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.queries.tpch_queries import bitemporal_asof_orders

    out = {r["version"]: r for r in bitemporal_asof_orders(spark, "/root/testdata/sf0.001").collect()}
    assert set(out) == {1, 2}
    # version-2 rows exist (corrections visible at the chosen tx time)
    assert out[2]["n_rows"] > 0
    # corrected keys are ~1/7 of visible orders
    ratio = out[2]["n_rows"] / (out[1]["n_rows"] + out[2]["n_rows"])
    assert 0.05 < ratio < 0.25


def test_lateness_profile_monotone_in_threshold(spark):
    from hadoop_data_lake_spark.queries.events_queries import event_lateness_profile

    r = event_lateness_profile(spark, "/root/testdata/sf0.001").first()
    drops = [
        r["dropped_at_0s"],
        r["dropped_at_60s"],
        r["dropped_at_300s"],
        r["dropped_at_900s"],
        r["dropped_at_3600s"],
    ]
    assert drops == sorted(drops, reverse=True)
    assert r["n_events"] >= drops[0]


def test_adstock_credit_normalizes_per_purchase(spark):
    """Decay-weighted credit shares must sum to ~the purchase value for
    every purchase (up to the documented 6dp per-touch rounding)."""
    import pyspark.sql.functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units

    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        to_units(F.col("value")).alias("cents"),
    )
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("tu"), F.col("ts").alias("tts")
    )
    paired = purchases.join(
        touches,
        (F.col("pu") == F.col("tu"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS")),
    ).withColumn(
        "wgt",
        F.pow(
            F.lit(0.5),
            (F.unix_micros("pts") - F.unix_micros("tts")).cast("double")
            / (12.0 * 3600.0 * 1e6),
        ),
    )
    per_p = paired.groupBy("pid", "cents").agg(F.sum("wgt").alias("wtot"))
    joined = paired.join(per_p.select("pid", "wtot"), "pid").withColumn(
        "credit", F.col("cents") * F.col("wgt") / F.col("wtot")
    )
    check = joined.groupBy("pid", "cents").agg(F.sum("credit").alias("sc"))
    bad = check.where(F.abs(F.col("sc") - F.col("cents")) > 0.01).count()
    assert bad == 0


def test_km_by_variant_curves_are_valid_survival_functions(spark):
    from hadoop_data_lake_spark.queries.events_queries import (
        kaplan_meier_by_variant,
    )

    rows = kaplan_meier_by_variant(spark, "/root/testdata/sf0.01").collect()
    by_v = {}
    for r in rows:
        by_v.setdefault(r["variant"], []).append((r["t"], r["surv_r"]))
    assert set(by_v) == {0, 1}
    for v, pts in by_v.items():
        pts.sort()
        prev = 1.0
        for _, s in pts:
            assert 0.0 <= s <= prev + 1e-9, (v, s, prev)
            prev = s


def test_forecast_bakeoff_contains_both_models_per_type(spark):
    from hadoop_data_lake_spark.queries.events_queries import forecast_bakeoff

    rows = forecast_bakeoff(spark, "/root/testdata/sf0.001").collect()
    seen = {(r["event_type"], r["model"]) for r in rows}
    types = {t for t, _ in seen}
    for t in types:
        assert (t, "seasonal_naive") in seen and (t, "global_mean") in seen
    assert all(r["mae_cents"] >= 0 for r in rows)


def test_semdedup_empty_and_single_vector(spark):
    from hadoop_data_lake_spark.operators.similarity import semdedup_prune

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semdedup_prune(empty, num_clusters=4).count() == 0
    one = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    rows = semdedup_prune(one, num_clusters=4).collect()
    # a lone vector is its own centroid, keeps itself
    assert len(rows) == 1 and rows[0]["keep"] and rows[0]["cluster_id"] == 1


def test_phash_empty_blob_and_empty_frame(spark):
    from hadoop_data_lake_spark.operators.multimodal import (
        perceptual_hash,
        phash_near_dup_pairs,
    )

    empty = spark.createDataFrame([], "media_id long, media binary")
    assert perceptual_hash(empty).count() == 0
    blank = spark.createDataFrame(
        [(1, bytearray(b"")), (2, bytearray(b""))],
        "media_id long, media binary",
    )
    rows = {r["media_id"]: r for r in perceptual_hash(blank).collect()}
    # empty blob: all segment sums 0 -> phash 0, n_bytes 0 (no crash)
    assert rows[1]["phash"] == 0 and rows[1]["n_bytes"] == 0
    # two all-zero hashes are hamming-0 near-dups — pairs path stays sane
    pairs = phash_near_dup_pairs(perceptual_hash(blank)).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_lpa_empty_and_self_loop_free(spark):
    from hadoop_data_lake_spark.operators.graph import lpa_communities

    empty = spark.createDataFrame([], "src long, dst long")
    assert lpa_communities(empty).count() == 0
    pair = spark.createDataFrame([(7, 9)], "src long, dst long")
    # the documented synchronous-LPA trade: a 2-vertex graph label-swaps
    # with period 2 (deterministically!) instead of converging — even
    # iteration counts return to the start, odd ones sit mid-swap
    even = {r["vertex"]: r["community"] for r in lpa_communities(pair, iters=4).collect()}
    assert even == {7: 7, 9: 9}
    odd = {r["vertex"]: r["community"] for r in lpa_communities(pair, iters=3).collect()}
    assert odd == {7: 9, 9: 7}


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def degenerate_dirs(spark, tmp_path_factory):
    """Three corpora that break closed-form denominators: a single event
    (one hour bin, one group member, possibly an empty hash sample), one
    day with two types (empty variants), and thirty identical values
    (zero variance everywhere)."""
    cases = {
        "one_event": [(1, EPOCH, 1, "purchase", 5.0, "{}")],
        "one_day_two_types": [
            (1, EPOCH, 1, "purchase", 5.0, "{}"),
            (2, EPOCH + dt.timedelta(hours=1), 2, "view", 3.0, "{}"),
        ],
        "all_same_value": [
            (i, EPOCH + dt.timedelta(hours=i), i % 3, "click", 7.0, "{}")
            for i in range(30)
        ],
    }
    dirs = {}
    root = tmp_path_factory.mktemp("degenerate")
    for name, rows in cases.items():
        d = str(root / name)
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/events.parquet")
        dirs[name] = d
    return dirs


def test_degenerate_inputs_never_divide_by_zero(spark, degenerate_dirs):
    """The r8 degenerate-input sweep found five window queries crashing
    with ANSI DIVIDE_BY_ZERO on inputs with empty variants / single bins /
    one group / zero variance (the daily_revenue_changepoint class).
    Undefined statistics must read NULL (or filter the undefined rows),
    never raise."""
    from hadoop_data_lake_spark.queries import events_queries as EV

    guarded = [
        # the five window queries from the first sweep + changepoint
        EV.ks_test_variants, EV.fano_burstiness, EV.anova_eta_squared,
        EV.sample_representativeness_audit, EV.value_outliers_zscore,
        EV.daily_revenue_changepoint,
        # the thirteen registry-wide offenders from the full sweep
        EV.kendall_tau_daily, EV.mann_whitney_variants,
        EV.jackknife_daily_mean, EV.ols_weekend_effect, EV.ols_daily_trend,
        EV.cuped_adjusted_lift, EV.ipw_outcome_estimate, EV.value_psi_drift,
        EV.neyman_allocation_plan, EV.woe_value_bins, EV.eb_shrunk_conversion,
        EV.target_encode_event_type, EV.self_join_skew_profile,
    ]
    anova_eta_squared = EV.anova_eta_squared
    fano_burstiness = EV.fano_burstiness
    ks_test_variants = EV.ks_test_variants
    value_outliers_zscore = EV.value_outliers_zscore

    for d in degenerate_dirs.values():
        for fn in guarded:
            fn(spark, d).collect()  # must not raise

    # semantics, not just survival:
    # zero variance -> no z-score outliers, NULL eta/F, NULL fano
    same = degenerate_dirs["all_same_value"]
    assert value_outliers_zscore(spark, same).count() == 0
    (a,) = anova_eta_squared(spark, same).collect()
    assert a["eta_sq_r"] is None and a["f_stat_r"] is None
    for r in fano_burstiness(spark, same).collect():
        assert r["fano_r"] == 0.0  # one event in each of 30 hours: zero dispersion
    # one-variant types are UNDEFINED for KS and must be absent, not NULL
    for r in ks_test_variants(spark, same).collect():
        assert r["n_a"] > 0 and r["n_b"] > 0
    # single-hour span -> fano undefined (n-1 = 0)
    one = degenerate_dirs["one_event"]
    (f,) = fano_burstiness(spark, one).collect()
    assert f["n_hours"] == 1 and f["fano_r"] is None


def test_degenerate_table_corpora_guards(spark, tmp_path):
    """The TQ/NS arm of the degenerate sweep, pinned as a test: constant
    prices / identical documents / identical embeddings and single-row
    facts must not raise, and the undefined statistics must read NULL
    (or the scikit silhouette-0 convention)."""
    from tools.degenerate_sweep import _table_cases
    from hadoop_data_lake_spark.queries.northstar_queries import (
        length_bias_auc,
        semdedup_silhouette,
        source_mmd_hashed,
    )
    from hadoop_data_lake_spark.queries.tpch_queries import (
        activity_tail_hill,
        discount_elasticity,
        price_dispersion_by_brand,
    )

    dirs = _table_cases(spark, str(tmp_path))
    for d in dirs.values():
        for fn in (
            price_dispersion_by_brand, length_bias_auc, activity_tail_hill,
            source_mmd_hashed, discount_elasticity, semdedup_silhouette,
        ):
            fn(spark, d).collect()  # must not raise

    # semantics on the constant-values corpus:
    const = dirs["constant_values"]
    (e,) = discount_elasticity(spark, const).collect()
    assert e["n_levels"] == 1 and e["elasticity_r"] is None, (
        "a one-point discount ladder has no slope"
    )
    for r in semdedup_silhouette(spark, const).collect():
        assert r["mean_silhouette_r"] == 0.0, (
            "identical points take the scikit-learn s = 0 convention"
        )
    # single-row facts: a single active user leaves the Hill mean undefined
    one = dirs["one_row_facts"]
    (h,) = activity_tail_hill(spark, one).collect()
    assert h["k_used"] == 1 and h["hill_r"] is None


def test_degenerate_sweep_skip_is_events_only():
    src = open("tools/degenerate_sweep.py").read()
    assert "cname in events_cases" in src, (
        "the PATH_NOT_FOUND skip must be gated on the events-only corpora"
    )
    assert "ev_targets" not in src, (
        "the defining-module target filter is back — selection must be by "
        "the tables a query actually reads"
    )


def test_degenerate_sweep_plans_mode_builds_table_cases(spark, tmp_path):
    """--plans + --events-only used to KeyError on cases['empty_facts'];
    build_cases must include the table-derived corpora whenever the plan
    probe will run."""
    from tools.degenerate_sweep import build_cases

    cases, events_cases = build_cases(
        spark, events_only=True, plans_mode=True, root=str(tmp_path)
    )
    assert "empty_facts" in cases
    assert "empty_facts" not in events_cases
    cases2, _ = build_cases(
        spark, events_only=True, plans_mode=False, root=str(tmp_path)
    )
    assert "empty_facts" not in cases2


def test_degenerate_sweep_leaves_no_corpus_behind(spark, tmp_path, monkeypatch):
    """Every corpus the sweep writes lives under one temporary root that
    main() removes, so repeated sweeps do not fill the temp dir."""
    import tempfile

    import tools.degenerate_sweep as DS

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(DS, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(
        DS.sys, "argv", ["degenerate_sweep.py", "--events-only", "user_sessions"]
    )
    assert DS.main() == 0
    assert not list(tmp_path.glob("degen_*"))
