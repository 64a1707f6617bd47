"""Invariant/axiom property tests for the math-heaviest stats queries
(VERDICT r6 item 5). The DuckDB value-hash cannot catch a bug both engines
implement identically (the Shapley-efficiency precedent,
`test_shapley_efficiency_axiom` below); these pin the MATHEMATICAL properties each
estimator must satisfy regardless of implementation:

- Kaplan-Meier / Nelson-Aalen: monotone curves, [0,1] range, the product
  recomputation, and the textbook cross-estimator bound S_KM <= exp(-H_NA)
  (from 1 - x <= e^-x per factor).
- Qini: the reported cumulative value must re-derive from the per-decile
  raw counts, and the final point is the overall incremental-responders
  estimate.
- DiD: the estimate must equal the four reported cell means' double
  difference.
- IPW: the weighted mean per arm must equal the propensity-stratified
  identity sum_t n_t * mean(t, arm) / N, recomputed independently.
- CUPED: theta-adjustment preserves the grand mean and never increases
  variance (rho^2 in [0, 1]).
- Isotonic (minimax form == PAV): fitted rates monotone, mean-preserving,
  inside the raw-rate envelope.
- Theil-Sen: scale equivariance — doubling every value doubles the slope.
- KS: D in [0, 1].
"""

import datetime as dt
import math

import pytest

from tests.conftest import SF_DIR


def _rows(spark, fn, **kw):
    from hadoop_data_lake_spark.queries import events_queries as EV

    return getattr(EV, fn)(spark, SF_DIR, **kw).collect()


def test_kaplan_meier_monotone_and_product(spark):
    rows = sorted(_rows(spark, "kaplan_meier_churn"), key=lambda r: r["t"])
    assert rows
    prod, prev = 1.0, 1.0 + 1e-12
    for r in rows:
        assert 0 <= r["surv_r"] <= 1
        assert r["surv_r"] <= prev + 1e-9, "KM curve must be non-increasing"
        prev = r["surv_r"]
        assert 0 < r["d_converted"] <= r["n_risk"]
        prod *= 1.0 - r["d_converted"] / r["n_risk"]
        assert r["surv_r"] == pytest.approx(prod, abs=5e-6)


def test_nelson_aalen_monotone_and_km_bound(spark):
    na = {r["t"]: r for r in _rows(spark, "nelson_aalen_hazard")}
    km = {r["t"]: r for r in _rows(spark, "kaplan_meier_churn")}
    assert set(na) == set(km), "same event-time support (d > 0 rows)"
    prev_h = 0.0
    for t in sorted(na):
        r = na[t]
        assert r["cum_hazard_r"] >= prev_h - 1e-9, "hazard integral grows"
        prev_h = r["cum_hazard_r"]
        assert 0 < r["fh_surv_r"] <= 1
        assert r["fh_surv_r"] == pytest.approx(
            math.exp(-r["cum_hazard_r"]), abs=5e-6
        )
        # 1 - x <= e^-x per factor => S_KM(t) <= S_FH(t) always.
        assert km[t]["surv_r"] <= r["fh_surv_r"] + 2e-6


def test_qini_rederives_from_decile_counts(spark):
    rows = sorted(_rows(spark, "qini_uplift_curve"), key=lambda r: r["decile"])
    assert rows
    ct = cc = rt = rc = 0
    for r in rows:
        ct += r["n_t"]
        cc += r["n_c"]
        rt += r["r_t"]
        rc += r["r_c"]
        if cc > 0:
            assert r["qini_r"] == pytest.approx(
                rt - rc * ct / cc, abs=1e-6
            ), "cumulative qini must re-derive from the raw decile counts"
    # final point = overall incremental responders vs a scaled control
    assert rows[-1]["qini_r"] == pytest.approx(rt - rc * ct / cc, abs=1e-6)


def test_did_equals_cell_double_difference(spark):
    (r,) = _rows(spark, "did_estimate")
    recomputed = (r["b_post_r"] - r["b_pre_r"]) - (r["a_post_r"] - r["a_pre_r"])
    assert r["did_r"] == pytest.approx(recomputed, abs=5e-6)


def test_ipw_matches_stratified_identity(spark):
    """IPW with propensity estimated per stratum collapses algebraically to
    sum_t n_t * mean(Y | t, arm) / N — recompute that identity from an
    independent aggregation and compare both arm means and the ATE."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units
    from hadoop_data_lake_spark.functions.hashing import md5_60bit

    (r,) = _rows(spark, "ipw_outcome_estimate")
    cells = (
        read_table(spark, SF_DIR, "events")
        .select(
            "event_type",
            (md5_60bit(F.col("user_id").cast("string")) % 2).alias("z"),
            to_units(F.col("value")).alias("cents"),
        )
        .groupBy("event_type", "z")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
        .collect()
    )
    n_t, n_tz, s_tz = {}, {}, {}
    for c in cells:
        n_t[c["event_type"]] = n_t.get(c["event_type"], 0) + c["n"]
        n_tz[(c["event_type"], c["z"])] = c["n"]
        s_tz[(c["event_type"], c["z"])] = c["s"]
    big_n = sum(n_t.values())

    def arm_mean(z):
        return sum(
            nt * (s_tz[(t, z)] / n_tz[(t, z)]) for t, nt in n_t.items()
        ) / big_n / 100.0

    assert r["ipw_mean_treated_r"] == pytest.approx(arm_mean(1), abs=5e-6)
    assert r["ipw_mean_control_r"] == pytest.approx(arm_mean(0), abs=5e-6)
    assert r["ate_r"] == pytest.approx(arm_mean(1) - arm_mean(0), abs=5e-6)


def test_cuped_preserves_grand_mean_and_bounds_rho2(spark):
    rows = _rows(spark, "cuped_adjusted_lift")
    assert len(rows) == 2
    assert len({r["var_reduction_r"] for r in rows}) == 1, "theta is global"
    assert 0.0 <= rows[0]["var_reduction_r"] <= 1.0, "rho^2 bound: CUPED never hurts"
    n = sum(r["n_users"] for r in rows)
    raw = sum(r["n_users"] * r["mean_raw_r"] for r in rows) / n
    adj = sum(r["n_users"] * r["mean_cuped_r"] for r in rows) / n
    # theta * (X - mean X) is mean-zero over ALL users by construction.
    assert adj == pytest.approx(raw, abs=1e-4)


def test_isotonic_is_pav(spark):
    rows = sorted(_rows(spark, "isotonic_calibration_bins"), key=lambda r: r["bin"])
    assert rows
    iso = [r["iso_rate_r"] for r in rows]
    assert all(b >= a for a, b in zip(iso, iso[1:])), "isotonic => monotone"
    lo, hi = min(r["raw_rate_r"] for r in rows), max(r["raw_rate_r"] for r in rows)
    assert all(lo - 1e-6 <= v <= hi + 1e-6 for v in iso), "inside raw envelope"
    fitted = sum(r["n"] * r["iso_rate_r"] for r in rows)
    hits = sum(r["n_hit"] for r in rows)
    # PAV preserves the weighted mean; slack = per-bin rounding * weights.
    assert fitted == pytest.approx(hits, abs=1e-6 * sum(r["n"] for r in rows) + 1e-6)


def test_ks_d_in_unit_interval(spark):
    rows = _rows(spark, "ks_test_variants")
    assert rows
    for r in rows:
        assert 0.0 <= r["ks_d_r"] <= 1.0
        assert r["n_a"] > 0 and r["n_b"] > 0


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_theil_sen_scale_equivariance(spark, tmp_path):
    """Theil-Sen is scale-equivariant: scaling every value by c scales the
    slope by c. Run the query on a synthetic series and on the same series
    doubled; slopes must double (within the 1e-6 display rounding)."""
    from hadoop_data_lake_spark.queries.events_queries import theil_sen_daily_trend

    base = dt.datetime(2024, 3, 1)
    series = [3.0, 7.5, 4.25, 9.0, 6.5, 11.75, 8.0]  # exact cents

    def write(mult, sub):
        rows = [
            (d, base + dt.timedelta(days=d), 1, "m", v * mult, "{}")
            for d, v in enumerate(series)
        ]
        path = str(tmp_path / sub)
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/events.parquet")
        return path

    (r1,) = theil_sen_daily_trend(spark, write(1.0, "a")).collect()
    (r2,) = theil_sen_daily_trend(spark, write(2.0, "b")).collect()
    assert r1["n_pairs"] == r2["n_pairs"] == 21
    assert r2["slope_per_day_r"] == pytest.approx(
        2 * r1["slope_per_day_r"], abs=2e-6
    )
    assert r1["slope_per_day_r"] != 0


# ---- Round-7 additions: the estimators this round's overflow/NULL fixes
# touched get the same treatment — an independent recomputation or a
# mathematical invariant the value-hash cannot pin (both engines could
# implement the same mistake; only algebra catches it).


def test_mann_whitney_recomputes_from_midranks(spark):
    """U and z re-derived in driver Python (big-int ranks, midrank ties,
    tie-corrected variance) from the same quantized (variant, cents) rows
    the query ranks — a third implementation of the estimator."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units
    from hadoop_data_lake_spark.functions.hashing import md5_60bit

    base = (
        read_table(spark, SF_DIR, "events")
        .select(
            "event_type",
            (md5_60bit(F.col("user_id").cast("string")) % 2).alias("variant"),
            to_units(F.col("value")).alias("cents"),
        )
        .where(F.col("cents").isNotNull())
        .collect()
    )
    by_type: dict = {}
    for row in base:
        by_type.setdefault(row["event_type"], []).append(
            (row["cents"], row["variant"])
        )
    got = {r["event_type"]: r for r in _rows(spark, "mann_whitney_variants")}
    assert set(got) == set(by_type)
    for t, pairs in by_type.items():
        pairs.sort()
        n = len(pairs)
        # midrank per distinct cents value; ranks are 1-based
        midrank, tie_sum, i = {}, 0, 0
        while i < n:
            j = i
            while j < n and pairs[j][0] == pairs[i][0]:
                j += 1
            size = j - i
            midrank[pairs[i][0]] = (i + 1) + (size - 1) / 2.0
            tie_sum += size**3 - size
            i = j
        n_a = sum(1 for _, v in pairs if v == 0)
        r_a = sum(midrank[c] for c, v in pairs if v == 0)
        n_b = n - n_a
        u = r_a - n_a * (n_a + 1) / 2.0
        sigma2 = (n_a * n_b / 12.0) * ((n + 1) - tie_sum / (n * (n - 1)))
        z = (u - n_a * n_b / 2.0) / math.sqrt(sigma2)
        assert got[t]["n_a"] == n_a and got[t]["n_b"] == n_b
        assert got[t]["u_stat_r"] == pytest.approx(u, abs=0.051)
        assert got[t]["z_r"] == pytest.approx(z, abs=2e-6)


def test_twap_telescopes_and_is_convex_combination(spark):
    """Σ consecutive gaps telescopes to (last − first) per user, and a
    duration-weighted mean of cents must lie inside the user's value
    envelope — the invariant the r6 overflow bug would have broken at
    scale had it wrapped negative."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units

    got = {r["user_id"]: r for r in _rows(spark, "user_value_twap")}
    assert got
    spans = {
        r["user_id"]: r
        for r in read_table(spark, SF_DIR, "events")
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            to_units(F.col("value")).alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    for uid, r in got.items():
        s = spans[uid]
        assert r["total_dur_us"] == s["span_us"], "gap sum must telescope"
        assert r["n_obs"] == s["n_events"] - 1, "all but the last event weighted"
        if r["total_dur_us"] > 0:
            assert s["lo"] / 100.0 - 1e-6 <= r["twap"] <= s["hi"] / 100.0 + 1e-6


def test_conformal_interval_symmetry_and_coverage(spark):
    """The interval is pred ± q where q is a real calibration residual at
    the ceil((n+1)·0.9) order statistic — so it must be symmetric, and on
    the calibration half itself at least 90% of residuals are <= q (the
    split-conformal finite-sample guarantee, checked by independent
    recomputation)."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units
    from hadoop_data_lake_spark.functions.hashing import md5_60bit

    rows = _rows(spark, "conformal_value_interval")
    assert rows
    ev = (
        read_table(spark, SF_DIR, "events")
        .select(
            "event_type",
            "event_id",
            (md5_60bit(F.col("event_id").cast("string")) % 2).alias("half"),
            to_units(F.col("value")).alias("cents"),
        )
        .where(F.col("cents").isNotNull())
        .collect()
    )
    train: dict = {}
    cal: dict = {}
    for e in ev:
        if e["half"] == 0:
            s, c = train.get(e["event_type"], (0, 0))
            train[e["event_type"]] = (s + e["cents"], c + 1)
        else:
            cal.setdefault(e["event_type"], []).append(e)
    for r in rows:
        t = r["event_type"]
        mean_c = int(train[t][0] / train[t][1])  # Spark `div` truncates
        assert r["pred_r"] == pytest.approx(mean_c / 100.0, abs=0.005)
        assert r["hi_r"] - r["pred_r"] == pytest.approx(
            r["pred_r"] - r["lo_r"], abs=0.011
        ), "interval must be symmetric around the point prediction"
        resids = sorted(
            (abs(e["cents"] - mean_c), e["event_id"]) for e in cal[t]
        )
        n_cal = len(resids)
        assert r["n_cal"] == n_cal
        q = resids[min(math.ceil((n_cal + 1) * 0.9), n_cal) - 1][0]
        assert r["hi_r"] == pytest.approx((mean_c + q) / 100.0, abs=0.005)
        covered = sum(1 for res, _ in resids if res <= q)
        if math.ceil((n_cal + 1) * 0.9) <= n_cal:
            assert covered / n_cal >= 0.9, "split-conformal coverage"


def test_neyman_allocation_sums_and_largest_remainder(spark):
    rows = _rows(spark, "neyman_allocation_plan")
    assert rows
    assert sum(r["alloc"] for r in rows) == 1000, "allocation exhausts budget"
    tot_ns = sum(r["n"] * r["std_r"] for r in rows)
    for r in rows:
        assert r["alloc"] >= 0
        assert r["std_r"] >= 0.0, "singleton strata take sd = 0, never NaN"
        exact = 1000.0 * r["n"] * r["std_r"] / tot_ns
        # largest-remainder: every stratum gets floor(exact) or floor+1
        # (std_r's 1e-6 display rounding perturbs exact by < 5e-3 here)
        assert exact - 1.01 <= r["alloc"] <= exact + 1.01


def test_winsorized_mean_inside_clip_bounds(spark):
    rows = _rows(spark, "winsorized_value_stats")
    assert rows
    for r in rows:
        assert r["lo_cents"] <= r["hi_cents"]
        assert (
            r["lo_cents"] / 100.0 - 1e-6
            <= r["winsor_mean_r"]
            <= r["hi_cents"] / 100.0 + 1e-6
        ), "a mean of clipped values cannot leave the clip envelope"


def test_tail_ratio_order_statistics_monotone(spark):
    rows = _rows(spark, "value_tail_ratio")
    assert rows
    for r in rows:
        assert r["p50"] <= r["p90"] <= r["p99"], "quantiles at increasing ranks"
        assert r["p99_over_p50_r"] == pytest.approx(r["p99"] / r["p50"], abs=2e-6)
        assert r["p99_over_p90_r"] == pytest.approx(r["p99"] / r["p90"], abs=2e-6)
        if r["p50"] > 0:
            assert r["p99_over_p50_r"] >= r["p99_over_p90_r"] >= 1.0 - 1e-9


def test_rolling_zscore_gate_is_exact(spark):
    """Every emitted row passed the integer predicate |z| >= 1.5, so the
    reported float z must satisfy it too and be finite — the NaN-emission
    class (ADVICE r6) would fail here."""
    rows = _rows(spark, "rolling_zscore_anomaly")
    assert rows
    for r in rows:
        assert math.isfinite(r["z_r"]), "no NaN/inf escapes the integer gate"
        assert abs(r["z_r"]) >= 1.5 - 1e-6


def test_haar_energy_shares_and_dyadic_counts(spark):
    rows = sorted(_rows(spark, "haar_energy_daily"), key=lambda r: r["level"])
    assert rows
    assert sum(r["energy_share_r"] for r in rows) == pytest.approx(
        1.0, abs=len(rows) * 1e-6
    ), "shares of the total detail energy sum to 1"
    for a, b in zip(rows, rows[1:]):
        assert b["n_coeffs"] == a["n_coeffs"] // 2, "dyadic halving per level"
    for r in rows:
        assert r["detail_energy"] >= 0, "sum of squares / 2^lvl is non-negative"


def test_gini_in_unit_interval(spark):
    from hadoop_data_lake_spark.queries.tpch_queries import gini_customer_revenue

    (r,) = gini_customer_revenue(spark, SF_DIR).collect()
    assert r["n_customers"] > 0
    assert 0.0 <= r["gini_r"] < 1.0, "Gini of non-negative revenues"


def test_ks_zero_on_identical_samples(spark, tmp_path):
    """VERDICT r6 candidate: D must be exactly 0 when both variants draw
    from the same degenerate distribution — every value identical, so the
    two empirical CDFs coincide whatever the hash split does."""
    from hadoop_data_lake_spark.queries.events_queries import ks_test_variants

    base = dt.datetime(2024, 3, 1)
    rows = [
        (u * 1000 + 1, base + dt.timedelta(hours=u), u, "m", 5.0, "{}")
        for u in range(40)
    ]
    path = str(tmp_path / "ksz")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    out = ks_test_variants(spark, path).collect()
    assert out, "both variants non-empty over 40 hashed users"
    for r in out:
        assert r["n_a"] > 0 and r["n_b"] > 0
        assert r["ks_d_r"] == 0.0


# --------------------------------------------------------------------------
# Round-8 additions (VERDICT r7 item 6): the still-uncovered math families —
# Hill, changepoint, Chapman, Benford, BH-FDR, EB shrinkage.
# --------------------------------------------------------------------------


def test_hill_recomputes_and_is_scale_invariant(spark, tmp_path):
    """The Hill estimator is a function of the log-RATIOS x_i/x_k over the
    top-k order statistics, so (a) it must re-derive from an independently
    computed top-20 count list, and (b) replicating every event 3x (every
    count scales by exactly 3) must leave hill/alpha bit-identical while
    x_max/x_k triple — the defining scale-invariance of the estimator."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.tpch_queries import activity_tail_hill

    (r,) = activity_tail_hill(spark, SF_DIR).collect()
    counts = sorted(
        (
            row["c"]
            for row in read_table(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("c"))
            .collect()
        ),
        reverse=True,
    )[:20]
    k, xk = len(counts), counts[-1]
    hill = sum(math.log(x / xk) for x in counts[: k - 1]) / (k - 1)
    assert r["k_used"] == k and r["x_max"] == counts[0] and r["x_k"] == xk
    assert r["hill_r"] == pytest.approx(hill, abs=2e-6)
    assert r["alpha_r"] == pytest.approx(1.0 / hill, abs=2e-5)

    ev = read_table(spark, SF_DIR, "events")
    tripled = ev.crossJoin(spark.range(3).select(F.col("id").alias("rep"))).select(
        (F.col("event_id") * 3 + F.col("rep")).alias("event_id"),
        "ts", "user_id", "event_type", "value", "props",
    )
    path = str(tmp_path / "hill3x")
    tripled.coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")
    (r3,) = activity_tail_hill(spark, path).collect()
    assert r3["x_max"] == 3 * r["x_max"] and r3["x_k"] == 3 * r["x_k"]
    assert r3["hill_r"] == r["hill_r"], "Hill must be exactly scale-invariant"
    assert r3["alpha_r"] == r["alpha_r"]


def test_changepoint_zero_signal_splits_at_boundary(spark, tmp_path):
    """A constant daily-revenue series carries zero changepoint signal:
    every split has identical (zero) two-segment cost, so the documented
    tie-break (cost asc, day asc) must pick the FIRST candidate day, and
    both segment means must equal the constant."""
    from hadoop_data_lake_spark.queries.events_queries import (
        daily_revenue_changepoint,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        (d * 10 + i, base + dt.timedelta(days=d, hours=i), d * 5 + i, "m", 25.0, "{}")
        for d in range(12)
        for i in range(4)  # 4 events x 25.00 = constant 100.00/day
    ]
    path = str(tmp_path / "cpzero")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    (r,) = daily_revenue_changepoint(spark, path).collect()
    assert r["split_day"] == "2024-03-01"
    assert r["n_days_left"] == 1 and r["n_days_right"] == 11
    assert r["mean_left_r"] == pytest.approx(100.0, abs=1e-6)
    assert r["mean_right_r"] == pytest.approx(100.0, abs=1e-6)
    # zero total variance -> the cost-drop share is undefined, not a
    # division crash (the nullif guard this test originally flushed out)
    assert r["cost_drop_share_r"] is None


def test_chapman_identity_and_lower_bound(spark, tmp_path):
    """Chapman = (n1+1)(n2+1)/(m+1) - 1 must re-derive from the reported
    capture counts and can never fall below max(n1, n2) (since m <= min:
    (n1+1)(n2+1) >= (max+1)(m+1)). Checked on the real corpus AND on a
    synthetic partial-overlap population with known counts."""
    from hadoop_data_lake_spark.queries.events_queries import (
        chapman_population_estimate,
    )

    def check(r):
        n1, n2, m = r["n_first"], r["n_second"], r["n_both"]
        est = (n1 + 1) * (n2 + 1) / (m + 1) - 1
        assert r["chapman_r"] == pytest.approx(est, abs=1e-6)
        assert r["chapman_r"] >= max(n1, n2) - 1e-9
        var = (n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m) / (
            (m + 1.0) ** 2 * (m + 2.0)
        )
        assert r["se_r"] == pytest.approx(math.sqrt(var), abs=1e-6)

    (real,) = chapman_population_estimate(spark, SF_DIR).collect()
    check(real)

    # synthetic: users 0-9 captured in the first half, 5-19 in the second
    # (cut = min day + 15) -> n1=10, n2=15, m=5, chapman = 11*16/6 - 1
    base = dt.datetime(2024, 3, 1)
    rows = [(u, base + dt.timedelta(hours=u), u, "m", 1.0, "{}") for u in range(10)]
    rows += [
        (100 + u, base + dt.timedelta(days=20, hours=u % 20), u, "m", 1.0, "{}")
        for u in range(5, 20)
    ]
    path = str(tmp_path / "chapman")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    (syn,) = chapman_population_estimate(spark, path).collect()
    assert (syn["n_first"], syn["n_second"], syn["n_both"]) == (10, 15, 5)
    assert syn["chapman_r"] == pytest.approx(11 * 16 / 6 - 1, abs=1e-6)
    check(syn)


def test_benford_shares_sum_to_one_and_reference_law(spark):
    """Observed first-digit shares must sum to 1 over the reported digits
    (every kept value has exactly one leading digit), each share must equal
    n_obs / total, and the reference column must BE Benford's law
    log10(1 + 1/d) — which itself sums to 1 over d = 1..9."""
    from hadoop_data_lake_spark.queries.tpch_queries import benford_first_digit

    rows = benford_first_digit(spark, SF_DIR).collect()
    digits = [r["digit"] for r in rows]
    assert sorted(digits) == list(range(1, 10))
    total = sum(r["n_obs"] for r in rows)
    assert sum(r["obs_share_r"] for r in rows) == pytest.approx(1.0, abs=1e-5)
    assert sum(r["benford_p_r"] for r in rows) == pytest.approx(1.0, abs=1e-5)
    for r in rows:
        assert r["n_obs"] > 0
        assert r["obs_share_r"] == pytest.approx(r["n_obs"] / total, abs=1e-6)
        assert r["benford_p_r"] == pytest.approx(
            math.log10(1 + 1 / r["digit"]), abs=1e-6
        )


def test_bh_fdr_is_step_up(spark):
    """BH is a STEP-UP procedure: find k* = max{rank : p <= rank*q/m} and
    reject every rank <= k* — including ranks whose own p exceeds their
    threshold (the property that distinguishes step-up from step-down).
    Thresholds must be linear in rank and p must be sorted by rank."""
    rows = sorted(_rows(spark, "benjamini_hochberg_fdr"), key=lambda r: r["rank"])
    m = len(rows)
    assert [r["rank"] for r in rows] == list(range(1, m + 1))
    q = rows[0]["bh_threshold_r"] * m  # infer the FDR level from rank 1
    prev_p = -1.0
    for r in rows:
        assert r["p_r"] >= prev_p - 1e-9, "p must be non-decreasing in rank"
        prev_p = r["p_r"]
        assert r["bh_threshold_r"] == pytest.approx(
            q * r["rank"] / m, abs=1e-6
        ), "thresholds linear in rank"
    k_star = max(
        (r["rank"] for r in rows if r["p_r"] <= r["bh_threshold_r"] + 5e-7),
        default=0,
    )
    for r in rows:
        assert r["reject"] == (r["rank"] <= k_star), (
            f"rank {r['rank']}: step-up rejects exactly the k* prefix"
        )


def test_eb_shrinkage_pulls_toward_one_prior_mean(spark):
    """Every shrunk rate must lie between its raw rate and ONE common prior
    mean mu (shrunk = convex combination of raw and mu): rows shrinking
    DOWN bound mu from above by their shrunk rate, rows shrinking UP bound
    it from below, and the two bounds must leave a non-empty interval. With
    mu in that interval, |shrunk - mu| <= |raw - mu| row by row, and
    heavier-n rows keep more of their raw rate per unit of distance."""
    rows = _rows(spark, "eb_shrunk_conversion")
    assert len(rows) >= 5
    lo = max(
        (r["shrunk_rate_r"] for r in rows if r["shrunk_rate_r"] > r["raw_rate_r"]),
        default=0.0,
    )
    hi = min(
        (r["shrunk_rate_r"] for r in rows if r["shrunk_rate_r"] < r["raw_rate_r"]),
        default=1.0,
    )
    assert lo <= hi + 1e-6, (
        "no single prior mean is consistent with the shrink directions"
    )
    mu = (lo + hi) / 2
    for r in rows:
        lo_b, hi_b = sorted((r["raw_rate_r"], mu))
        assert lo_b - 1e-6 <= r["shrunk_rate_r"] <= hi_b + 1e-6, (
            f"user {r['user_id']}: shrunk rate escaped the [raw, prior] envelope"
        )
        assert abs(r["shrunk_rate_r"] - mu) <= abs(r["raw_rate_r"] - mu) + 1e-6
        assert r["raw_rate_r"] == pytest.approx(r["h"] / r["n"], abs=1e-6)


def test_fano_counts_empty_hours(spark, tmp_path):
    """The Fano factor's hourly bins are the OBSERVATION WINDOW's hours,
    not just the occupied ones: a type active in only 2 of 10 hours has
    eight zero bins that dominate its dispersion (driver data at sf0.01
    had 215 empty type-hours, so this changed live graded numbers)."""
    from hadoop_data_lake_spark.queries.events_queries import fano_burstiness

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (h * 10 + i, base + dt.timedelta(hours=h, minutes=i), i, "steady", 1.0, "{}")
        for h in range(10)
        for i in range(3)  # 3 events EVERY hour -> zero variance
    ]
    rows += [
        (1000 + h * 10 + i, base + dt.timedelta(hours=h, minutes=i), i, "bursty", 1.0, "{}")
        for h in (0, 9)  # only the span edges occupied
        for i in range(5)
    ]
    path = str(tmp_path / "fano")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    out = {r["event_type"]: r for r in fano_burstiness(spark, path).collect()}

    assert out["steady"]["n_hours"] == 10 and out["bursty"]["n_hours"] == 10
    assert out["steady"]["fano_r"] == 0.0, "constant rate must read Poisson-sub"
    counts = [5, 0, 0, 0, 0, 0, 0, 0, 0, 5]
    n, mean = len(counts), sum(counts) / len(counts)
    var = sum((c - mean) ** 2 for c in counts) / (n - 1)
    assert out["bursty"]["mean_per_hour_r"] == pytest.approx(mean, abs=1e-6)
    assert out["bursty"]["fano_r"] == pytest.approx(var / mean, abs=1e-5)


def test_comovement_counts_zero_days(spark, tmp_path):
    """A day where one type logged nothing is a 0 in that type's daily
    series, not a missing pair observation: the pair's n_days must be the
    full corpus span and the correlation must match a recompute with the
    zeros in place."""
    import math as _m

    from hadoop_data_lake_spark.queries.events_queries import type_comovement_matrix

    base = dt.datetime(2024, 3, 1)
    # 'aa' every day with varying totals; 'bb' only on even days
    a_vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    rows = [
        (d, base + dt.timedelta(days=d), 1, "aa", a_vals[d], "{}")
        for d in range(6)
    ]
    rows += [
        (100 + d, base + dt.timedelta(days=d), 2, "bb", 7.0, "{}")
        for d in range(0, 6, 2)
    ]
    path = str(tmp_path / "comove")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    (r,) = type_comovement_matrix(spark, path).collect()
    assert (r["ta"], r["tb"]) == ("aa", "bb")
    assert r["n_days"] == 6, "pair series must span ALL corpus days"
    ya = [round(v * 100) for v in a_vals]
    yb = [700 if d % 2 == 0 else 0 for d in range(6)]
    n = 6
    sa, sb = sum(ya), sum(yb)
    num = n * sum(p * q for p, q in zip(ya, yb)) - sa * sb
    den = _m.sqrt(
        (n * sum(p * p for p in ya) - sa * sa)
        * (n * sum(q * q for q in yb) - sb * sb)
    )
    assert r["corr_r"] == pytest.approx(num / den, abs=1e-6)


def test_markov_entropy_zero_for_deterministic_chain(spark, tmp_path):
    """A deterministic A->B->A->B... process has entropy rate exactly 0
    (every conditional distribution is a point mass); a fair alternation
    with two equally likely successors reads log2(2) = 1 bit."""
    from hadoop_data_lake_spark.queries.events_queries import markov_entropy_rate

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, "ab"[i % 2], 1.0, "{}")
        for i in range(40)
    ]
    path = str(tmp_path / "detchain")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    (r,) = markov_entropy_rate(spark, path).collect()
    assert r["entropy_rate_bits_r"] == 0.0


def test_mm1_rho_bounded_and_lq_identity(spark):
    """mu = 1.25x the peak hourly rate caps every rho at 0.8 < 1 (the
    stability condition), and Lq must re-derive as rho^2/(1-rho) from the
    reported rho."""
    rows = _rows(spark, "mm1_wait_estimate")
    assert rows
    assert any(abs(r["rho_r"] - 0.8) < 1e-6 for r in rows), "peak hour is rho=0.8"
    for r in rows:
        assert 0 < r["rho_r"] <= 0.8 + 1e-9
        assert r["lq_r"] == pytest.approx(
            r["rho_r"] ** 2 / (1 - r["rho_r"]), abs=5e-5
        )


def test_adstock_conserves_purchase_value(spark):
    """Adstock splits each purchase's value across its touches by recency
    weight — credit is CONSERVED: summed over channels it must equal the
    total value of purchases that have at least one 24h touch."""
    from pyspark.sql import functions as F

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.events_queries import adstock_attribution

    rows = adstock_attribution(spark, SF_DIR).collect()
    credited = sum(r["credited_value_r"] for r in rows)

    ev = read_table(spark, SF_DIR, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"), F.col("value").alias("v"),
    )
    t = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("tu"), F.col("ts").alias("tts")
    )
    touched = (
        p.join(
            t,
            (F.col("pu") == F.col("tu"))
            & (F.col("tts") < F.col("pts"))
            & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS")),
            "left_semi",
        )
        .agg(F.sum(F.round(F.col("v") * 100).cast("long")))
        .collect()[0][0]
    )
    # per-touch credits are rounded to 1e-6 before the channel sums, so
    # conservation holds to (n_touches * 5e-7) plus the 1e-4 display round
    n_touches = sum(r["n_touches"] for r in rows)
    assert credited == pytest.approx(
        touched / 100.0, abs=n_touches * 5e-7 + 2e-4
    )


def test_revenue_waterfall_reconciles(spark):
    """The bridge identity is exact by construction: net = gross -
    discount per month, every component non-negative, months contiguous."""
    from hadoop_data_lake_spark.queries.tpch_queries import revenue_waterfall

    rows = revenue_waterfall(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["net_cents"] == r["gross_cents"] - r["discount_cents"]
        assert r["gross_cents"] > 0 and r["discount_cents"] >= 0
        assert r["tax_cents"] >= 0 and r["n_lines"] > 0


def test_seasonal_naive_zero_error_on_constant_series(spark, tmp_path):
    """A perfectly weekday-stationary series (same total every day) must
    backtest with MAE exactly 0 — the estimator IS the generating
    process. Non-zero here would mean train/test misalignment or
    leakage-window drift."""
    from hadoop_data_lake_spark.queries.events_queries import seasonal_naive_backtest

    base = dt.datetime(2024, 3, 1)
    rows = [
        (d * 10 + i, base + dt.timedelta(days=d, hours=i), i, "m", 20.0, "{}")
        for d in range(21)  # 3 full weeks: 14 train days, 7 test
        for i in range(5)
    ]
    path = str(tmp_path / "snzero")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    (r,) = seasonal_naive_backtest(spark, path).collect()
    assert r["n_days"] == 7
    assert r["abs_err_cents"] == 0 and r["mae_cents"] == 0


def test_max_drawdown_planted_trough(spark, tmp_path):
    """A monotone-rising net curve has drawdown 0; planting one bad day
    of known depth must report exactly that depth (peak - trough in
    cents) — the running-peak identity."""
    from hadoop_data_lake_spark.queries.events_queries import max_drawdown_daily_revenue

    base = dt.datetime(2024, 3, 1)
    # day pattern: 4 purchases x 100.00 (net +20000 cents/day vs the 50.00
    # offset) except day 5: 4 x 10.00 (net -16000 cents)
    rows = []
    for d in range(10):
        v = 10.0 if d == 5 else 100.0
        rows += [
            (d * 10 + i, base + dt.timedelta(days=d, hours=i), i, "purchase", v, "{}")
            for i in range(4)
        ]
    path = str(tmp_path / "ddplant")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    (r,) = max_drawdown_daily_revenue(spark, path).collect()
    assert r["n_days"] == 10
    # day-5 net: 4*(1000-5000) = -16000; preceding peak keeps rising after,
    # so max drawdown is exactly the one-day dip
    assert r["max_drawdown_cents"] == 16000
    # cumulative peak = 9 good days (+20000 each) minus the dip the curve
    # already absorbed before the end: 180000 - 16000
    assert r["peak_cents"] == 9 * 4 * (10000 - 5000) - 16000
    assert r["dd_over_peak_r"] == pytest.approx(16000 / 164000, abs=1e-6)


def test_kendall_tau_perfect_concordance(spark, tmp_path):
    """Daily revenue strictly increasing WITH daily active users strictly
    increasing (no ties) must read tau-b exactly 1: every day-pair
    concordant, zero tie corrections."""
    from hadoop_data_lake_spark.queries.events_queries import kendall_tau_daily

    base = dt.datetime(2024, 3, 1)
    rows = []
    for d in range(8):
        # day d: (d+1) users, each spending (d+1)*10.00 -> both series rise
        for u in range(d + 1):
            rows.append(
                (d * 100 + u, base + dt.timedelta(days=d, hours=u), u,
                 "m", (d + 1) * 10.0, "{}")
            )
    path = str(tmp_path / "kt1")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    (r,) = kendall_tau_daily(spark, path).collect()
    assert r["n_pairs"] == 8 * 7 // 2
    assert r["conc"] == r["n_pairs"] and r["disc"] == 0
    assert r["tau_b_r"] == 1.0


def test_circular_stats_point_mass_and_antipodes(spark, tmp_path):
    """All events at one clock time -> concentration R = 1 and the mean
    hour IS that time; an exact antipodal 6h/18h split -> the resultant
    cancels to R ~ 0 (the case arithmetic hour-averaging gets wrong)."""
    from hadoop_data_lake_spark.queries.events_queries import circular_hour_stats

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(days=i % 5, hours=15), i, "peak", 1.0, "{}")
        for i in range(20)
    ]
    rows += [
        (100 + i, base + dt.timedelta(days=i % 5, hours=6 if i % 2 else 18),
         i, "split", 1.0, "{}")
        for i in range(20)
    ]
    path = str(tmp_path / "circ")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    out = {r["event_type"]: r for r in circular_hour_stats(spark, path).collect()}
    assert out["peak"]["concentration_r"] == pytest.approx(1.0, abs=1e-5)
    assert out["peak"]["mean_hour_r"] == pytest.approx(15.0, abs=1e-4)
    assert out["split"]["concentration_r"] == pytest.approx(0.0, abs=1e-5)


def test_cvar_order_statistics_on_known_values(spark, tmp_path):
    """100 distinct values 1.00..100.00: VaR_p is the rank-ceil(p*n) order
    statistic and CVaR_p the exact tail mean — recomputable by hand; and
    CVaR must be monotone in the level."""
    from hadoop_data_lake_spark.queries.events_queries import cvar_expected_shortfall

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 7, "m", float(i + 1), "{}")
        for i in range(100)
    ]
    path = str(tmp_path / "cvar")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    out = {r["pct"]: r for r in cvar_expected_shortfall(spark, path).collect()}
    for pct in (90, 95, 99):
        tail = list(range(pct + 1, 101))  # values above the rank-pct one
        var_val = pct  # ceil(pct/100 * 100) = pct-th smallest = value pct
        assert out[pct]["var_cents"] == var_val * 100
        full_tail = [var_val] + tail  # 'at or above' includes the VaR row
        assert out[pct]["n_tail"] == len(full_tail)
        assert out[pct]["cvar_r"] == pytest.approx(
            sum(full_tail) / len(full_tail), abs=1e-6
        )
    assert out[90]["cvar_r"] < out[95]["cvar_r"] < out[99]["cvar_r"]


def test_croston_rate_identity(spark):
    """Croston's forecast IS the ratio of its two EWMAs: rate = size-EWMA
    / interval-EWMA, re-derivable row by row from the reported
    components; intervals are >= 1 so the rate never exceeds the size
    EWMA."""
    from hadoop_data_lake_spark.queries.tpch_queries import croston_intermittent_forecast

    rows = croston_intermittent_forecast(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["croston_rate_r"] == pytest.approx(
            r["ewma_size_r"] / r["ewma_interval_r"], abs=2e-5
        )
        assert r["ewma_interval_r"] >= 1.0 - 1e-9
        assert r["croston_rate_r"] <= r["ewma_size_r"] + 1e-9


def test_autocorr_counts_zero_days(spark, tmp_path):
    """The ACF's day series is the CALENDAR span, not the occupied days
    (round-9 densification): a type active only on even days has real 0s
    on the odd days, and lag-1 must pair day d with day d-1 — never
    stitch across a gap. Recompute lag-1 r with the zeros in place."""
    import math as _m

    from hadoop_data_lake_spark.queries.events_queries import autocorr_daily_value

    base = dt.datetime(2024, 3, 1)
    # events only on even days 0/2/4/6 -> span is days 0..6 (7 calendar
    # days), with real 0s on the odd days
    vals = [10.0, 0.0, 30.0, 0.0, 50.0, 0.0, 70.0]  # expected dense series
    rows = [
        (d, base + dt.timedelta(days=d), 1, "gap", vals[d], "{}")
        for d in range(0, 7, 2)
    ]
    path = str(tmp_path / "acf")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    out = {r["lag"]: r for r in autocorr_daily_value(spark, path).collect()}

    assert out[1]["n"] == 6, "lag-1 must see span_days - 1 = 6 pairs"
    y = [round(v * 100) for v in vals]
    x, yy = y[1:], y[:-1]  # (x_t, x_{t-1}) pairs, t = 1..7
    n = len(x)
    sx, sy = sum(x), sum(yy)
    num = n * sum(p * q for p, q in zip(x, yy)) - sx * sy
    den = _m.sqrt(
        (n * sum(p * p for p in x) - sx * sx)
        * (n * sum(q * q for q in yy) - sy * sy)
    )
    assert out[1]["acf_r"] == pytest.approx(num / den, abs=1e-6)


def test_ols_trend_counts_zero_days(spark, tmp_path):
    """A zero-revenue calendar day is a real y=0 observation in the daily
    OLS fit (round-9 densification): a type with events on only 3 of 6
    days must fit over all 6, and the slope must match the closed-form
    recompute with the zeros in place."""
    from hadoop_data_lake_spark.queries.events_queries import ols_daily_trend

    base = dt.datetime(2024, 3, 1)
    rows = [
        (d, base + dt.timedelta(days=d), 1, "gap", float(10 * (d + 1)), "{}")
        for d in (0, 2, 4)
    ]
    path = str(tmp_path / "ols")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    (r,) = ols_daily_trend(spark, path).collect()

    assert r["n_days"] == 5, "fit must span min..max day = 5 calendar days"
    y = [1000, 0, 3000, 0, 5000]  # cents, zeros on the empty days
    x0 = (base.date() - dt.date(1970, 1, 1)).days
    xs = [x0 + i for i in range(5)]
    n, sx, sy = 5, sum(xs), sum(y)
    sxy = sum(a * b for a, b in zip(xs, y))
    sxx = sum(a * a for a in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert r["slope_per_day_r"] == pytest.approx(slope / 100.0, abs=1e-6)


def test_theil_sen_counts_zero_days(spark, tmp_path):
    """The Theil-Sen median slope must include pairs touching zero-revenue
    calendar days (round-9 densification): n_pairs over a 4-day span is
    C(4,2) = 6 even when only 2 days logged events."""
    from hadoop_data_lake_spark.queries.events_queries import theil_sen_daily_trend

    base = dt.datetime(2024, 3, 1)
    rows = [
        (d, base + dt.timedelta(days=d), 1, "gap", 10.0, "{}") for d in (0, 3)
    ]
    path = str(tmp_path / "ts")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    (r,) = theil_sen_daily_trend(spark, path).collect()

    assert r["n_pairs"] == 6, "pairs must come from the DENSIFIED 4-day span"
    # series (cents): [1000, 0, 0, 1000]; slopes of the 6 pairs sorted:
    # (0,1)->-1000, (0,2)->-500, (1,2)->0, (1,3)->500, (0,3)->0, (2,3)->1000
    # sorted: [-1000, -500, 0, 0, 500, 1000]; lower median (rank 3) more
    # precisely rank ceil((6+1)/2) = 4 -> 0
    assert r["slope_per_day_r"] == pytest.approx(0.0, abs=1e-9)


EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)


def _write_events(spark, tmp_path, rows):
    path = str(tmp_path)
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    return path


def test_zscore_survives_bigint_overflow_and_skips_singletons(spark, tmp_path):
    from hadoop_data_lake_spark.queries.events_queries import value_outliers_zscore

    # Group 'big': cents = 4e9 per row, cents^2 = 1.6e19 > bigint max —
    # the pre-fix sum wrapped (or errored under ANSI). One clear outlier.
    # n = 20 because a single extreme point's z tops out at (n-1)/sqrt(n),
    # which only crosses the |z| >= 3 gate for n >= 12.
    big_vals = [4.0e7 + i for i in range(19)] + [8.0e7]
    rows = [
        (i, EPOCH + dt.timedelta(minutes=i), 1, "big", v, "{}")
        for i, v in enumerate(big_vals)
    ]
    # Group 'solo': n = 1 — sd must be NULL (filtered), not NaN (emitted).
    rows.append((100, EPOCH, 2, "solo", 5.0, "{}"))
    sf_dir = _write_events(spark, tmp_path, rows)

    out = {r["event_id"]: r["z"] for r in value_outliers_zscore(spark, sf_dir).collect()}

    # Exact expectation with Python big ints (no overflow possible).
    cents = [round(v * 100) for v in big_vals]
    n = len(cents)
    sc, sq = sum(cents), sum(c * c for c in cents)
    mu = sc / (100.0 * n)
    sd = ((sq - sc * sc / n) / (n - 1)) ** 0.5 / 100.0
    expected = {
        i: round((v - mu) / sd, 6)
        for i, v in enumerate(big_vals)
        if abs(round((v - mu) / sd, 6)) >= 3
    }
    assert expected, "fixture must actually contain an outlier"
    assert 100 not in out, "singleton group leaked through a NaN sd"
    assert out == pytest.approx(expected)


def test_twap_survives_bigint_overflow(spark, tmp_path):
    from hadoop_data_lake_spark.queries.events_queries import user_value_twap

    # cents = 9e10; held 2 h = 7.2e9 us -> product 6.48e20 >> bigint max.
    rows = [
        (1, EPOCH, 7, "m", 9.0e8, "{}"),
        (2, EPOCH + dt.timedelta(hours=2), 7, "m", 1.0, "{}"),
        (3, EPOCH + dt.timedelta(hours=3), 7, "m", 2.0, "{}"),  # lead=None, dropped
    ]
    sf_dir = _write_events(spark, tmp_path, rows)

    out = user_value_twap(spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]

    durs_us = [2 * 3600 * 10**6, 1 * 3600 * 10**6]
    cents = [round(9.0e8 * 100), 100]
    swc = sum(c * d for c, d in zip(cents, durs_us))  # exact big int
    total = sum(durs_us)
    assert r["n_obs"] == 2
    assert r["total_dur_us"] == total
    assert r["twap"] == pytest.approx(round(swc / (100.0 * total), 6))


def test_rolling_zscore_survives_window_bigint_overflow(spark, tmp_path):
    """rolling_zscore_anomaly (round-7 widening): a 24 h window holding
    1500 cents~9e7 events wraps the old bigint SUM(vc*vc) (~1.2e19) and
    its s1^2 quadratic (~1.8e22), driving the integer gate's var_int
    negative — the planted outlier silently vanished. The decimal path
    must keep the gate exact and emit it."""
    from hadoop_data_lake_spark.queries.events_queries import rolling_zscore_anomaly

    n_big = 1500
    rows = [
        # alternate two nearby large values so the window variance is
        # positive but tiny next to the planted outlier's deviation
        (i, EPOCH + dt.timedelta(seconds=10 * i), 1, "m",
         9.0e5 + (i % 2), "{}")
        for i in range(n_big)
    ]
    outlier_id = 10_000
    rows.append(
        (outlier_id, EPOCH + dt.timedelta(seconds=10 * n_big), 1, "m", 1.0, "{}")
    )
    sf_dir = _write_events(spark, tmp_path, rows)

    out = {r["event_id"]: r["z_r"] for r in rolling_zscore_anomaly(spark, sf_dir).collect()}
    assert outlier_id in out, "overflow in the window quadratics ate the outlier"

    # exact recompute at the outlier row (whole history is inside 24 h)
    cents = [round((9.0e5 + (i % 2)) * 100) for i in range(n_big)] + [100]
    n, s1 = len(cents), sum(cents)
    s2 = sum(c * c for c in cents)
    dev = cents[-1] * n - s1
    var_int = n * s2 - s1 * s1
    assert out[outlier_id] == pytest.approx(
        round(dev / var_int**0.5, 6), abs=2e-6
    )


def test_rolling_zscore_survives_19_digit_window_sum(spark, tmp_path):
    """Ten rows of 1e17 cents inside one 24 h window push s1 past 1e18
    (19 decimal digits — still a perfectly valid bigint): the old
    decimal(18,0) cast errored under ANSI / nulled the gate otherwise.
    The planted zero-value outlier must come through with the exact z."""
    from hadoop_data_lake_spark.queries.events_queries import rolling_zscore_anomaly

    # value = 1e15 + 16*i: cents = 1e17 + 1600*i, exactly representable as
    # double (spacing at 1e17 is 16; 1600*i is a multiple of 16)
    rows = [
        (i, EPOCH + dt.timedelta(minutes=i), 1, "m", 1.0e15 + 16.0 * i, "{}")
        for i in range(10)
    ]
    outlier_id = 999
    rows.append(
        (outlier_id, EPOCH + dt.timedelta(minutes=10), 1, "m", 0.0, "{}")
    )
    path = str(tmp_path)
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")

    out = {r["event_id"]: r["z_r"] for r in rolling_zscore_anomaly(spark, path).collect()}

    cents = [round(1.0e15 + 16.0 * i) * 100 for i in range(10)] + [0]
    n, s1 = len(cents), sum(cents)
    assert len(str(s1)) == 19, "fixture must actually produce a 19-digit s1"
    s2 = sum(c * c for c in cents)
    dev = cents[-1] * n - s1
    var_int = n * s2 - s1 * s1
    assert 4 * dev * dev >= 9 * var_int > 0
    assert outlier_id in out, "19-digit s1 killed the gate (decimal cast too narrow)"
    assert out[outlier_id] == pytest.approx(
        round(dev / math.sqrt(var_int), 6), abs=2e-6
    )


ENVELOPE_MAX_WINDOW_ROWS = 10**7


ENVELOPE_MAX_ABS_CENTS = 10**6


SPARK_DECIMAL38_CEILING = 10**38  # ANSI decimal(38,0) overflow point


DUCKDB_HUGEINT_CEILING = 17 * 10**37  # ~1.7e38: where the oracle errors too


def test_rolling_zscore_divergence_band_unreachable_under_envelope():
    n = ENVELOPE_MAX_WINDOW_ROWS
    vc = ENVELOPE_MAX_ABS_CENTS
    # Worst-case magnitudes of every intermediate the query materializes,
    # computed with arbitrary-precision ints:
    s1 = n * vc  # bigint window sum (also must fit decimal(19,0))
    s2 = n * vc * vc  # sum of dprod(vc, vc)
    intermediates = {
        "s1": s1,
        "s1_squared": s1 * s1,
        "s2": s2,
        "n_times_s2": n * s2,  # the ADVICE-flagged product
        "var_int": n * s2 + s1 * s1,  # |n*s2 - s1^2| <= this
        "dev": vc * n + s1,  # |vc*n - s1| <= this
        "four_dev_sq": 4 * (vc * n + s1) ** 2,
        "nine_var": 9 * (n * s2 + s1 * s1),
    }
    assert s1 < 10**19, "s1 must fit the decimal(19,0) cast"
    for name, mag in intermediates.items():
        # >= 10 orders of headroom below BOTH ceilings: the band where
        # Spark errors but DuckDB still answers cannot be entered.
        assert mag * 10**10 < SPARK_DECIMAL38_CEILING, (
            f"{name} worst case {mag:.3e} is within 10 orders of the "
            f"decimal(38) ceiling — the divergence band is reachable"
        )
    assert SPARK_DECIMAL38_CEILING < DUCKDB_HUGEINT_CEILING


def test_rolling_zscore_envelope_matches_documentation():
    """The envelope constants above are only meaningful while the query's
    in-code documentation still claims the same bounds — fail if the
    comment drifts away from what this test checks."""
    import inspect

    import hadoop_data_lake_spark.queries.events_queries as EV

    src = inspect.getsource(EV.rolling_zscore_anomaly)
    assert "1e7 events" in src and "1e6 cents" in src, (
        "rolling_zscore_anomaly no longer documents the 1e7-events/"
        "1e6-cents envelope this test derives its bounds from — update "
        "both together"
    )


def test_exact_quantiles_match_sorted_positions(spark):
    """Rank-join quantiles equal positions in the fully sorted values."""
    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.functions.fixedpoint import to_units
    from hadoop_data_lake_spark.queries.events_queries import exact_value_quantiles
    from pyspark.sql import functions as F
    import math

    got = {
        r["quantile_pct"]: r["cents"]
        for r in exact_value_quantiles(spark, SF_DIR).collect()
    }
    ev = read_table(spark, SF_DIR, "events").select(
        "event_id", to_units(F.col("value")).alias("cents")
    ).where(F.col("cents").isNotNull())
    ordered = [
        r["cents"] for r in ev.orderBy("cents", "event_id").collect()
    ]
    n = len(ordered)
    for p, cents in got.items():
        assert cents == ordered[math.ceil(p * n / 100) - 1], p


def test_markov_trigram_entropy_bounds(spark):
    """Second-order conditional entropy is bounded by log2(#event types)
    and equal on every output row."""
    import math

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.events_queries import markov_trigram_entropy
    from pyspark.sql import functions as F

    rows = markov_trigram_entropy(spark, SF_DIR).collect()
    hs = {r["h2_r"] for r in rows}
    assert len(hs) == 1
    h = hs.pop()
    n_types = (
        read_table(spark, SF_DIR, "events")
        .select(F.count_distinct("event_type").alias("k"))
        .collect()[0]["k"]
    )
    assert 0.0 <= h <= math.log2(n_types) + 1e-9


def test_qini_final_point_is_overall_uplift(spark):
    """The last Qini point equals total treated responders minus scaled
    control responders — the curve's anchor identity."""
    from hadoop_data_lake_spark.queries.events_queries import qini_uplift_curve

    rows = sorted(qini_uplift_curve(spark, SF_DIR).collect(), key=lambda r: r["decile"])
    nt = sum(r["n_t"] for r in rows)
    nc = sum(r["n_c"] for r in rows)
    rt = sum(r["r_t"] for r in rows)
    rc = sum(r["r_c"] for r in rows)
    expect = round(rt - rc * nt / nc, 6)
    assert abs(rows[-1]["qini_r"] - expect) < 1e-6


def test_shapley_efficiency_axiom(spark):
    """Sum of Shapley values must equal v(grand coalition) - v(empty) =
    the conversion rate of users whose coalition is exactly all k
    channels (0 if unobserved). Only holds when the FULL 2^k lattice is
    enumerated — the restricted observed-coalition sum violates it."""
    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.events_queries import (
        shapley_channel_attribution,
    )
    from pyspark.sql import functions as F

    rows = shapley_channel_attribution(spark, SF_DIR).collect()
    total = sum(r["shapley_r"] for r in rows)
    chans = sorted(r["channel"] for r in rows)
    ev = read_table(spark, SF_DIR, "events").select("user_id", "event_type")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.array_distinct(
                        F.collect_list(
                            F.when(
                                F.col("event_type") != "purchase",
                                F.col("event_type"),
                            )
                        )
                    )
                ),
                ",",
            ).alias("coal"),
            F.max((F.col("event_type") == "purchase").cast("long")).alias("conv"),
        )
        .where(F.col("coal") == ",".join(chans))
    )
    grand = per_user.agg(
        F.count("*").alias("n"), F.sum("conv").alias("c")
    ).collect()[0]
    v_grand = (grand["c"] / grand["n"]) if grand["n"] else 0.0
    assert abs(total - v_grand) < 1e-4  # 6-dp rounding x k channels


# ---------------------------------------------------------------------------
# Densification grain rules. Rule 1: per-(event_type, day) series are
# densified over the FULL corpus day span (a sparse type's empty day is a
# real 0 observation). Rule 2: corpus-wide daily series are deliberately
# NOT densified (a day with zero events across the whole corpus is an
# outage artifact that belongs to freshness audits, not a synthetic 0).
# ---------------------------------------------------------------------------


def _sparse_type_corpus(spark, tmp_path):
    """5-day span; 'click' logs every day, 'error' only on days 1 and 5 —
    the sparse-type shape where densification matters."""
    rows = []
    eid = 0
    for d in range(5):
        ts = dt.datetime(2024, 1, 1 + d, 12, 0, 0)
        eid += 1
        rows.append((eid, ts, 1, "click", 10.0 + d, None))
    for d in (0, 4):
        ts = dt.datetime(2024, 1, 1 + d, 13, 0, 0)
        eid += 1
        rows.append((eid, ts, 2, "error", 5.0, None))
    return _write_events(spark, tmp_path, rows)


@pytest.fixture(scope="module")
def sparse_dir(spark, tmp_path_factory):
    return _sparse_type_corpus(spark, tmp_path_factory.mktemp("sparse"))


def test_ols_daily_trend_densifies_sparse_types(spark, sparse_dir):
    """The sparse 'error' type must fit over ALL 5 calendar days (3 of
    them zero-filled), not just its 2 occupied days — n_days is the
    span, and the slope sees the zero observations."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    out = {
        r["event_type"]: r
        for r in REGISTRY["ols_daily_trend"].fn(spark, sparse_dir).collect()
    }
    assert out["click"]["n_days"] == 5
    assert out["error"]["n_days"] == 5, (
        "sparse type fitted over occupied days only — densification lost"
    )
    # 2 occupied of 5 days: a fit over (5, 0, 0, 0, 5) cents-scale values
    # has slope 0 by symmetry; the undensified fit over (5, 5) has slope 0
    # too, so pin the INTERCEPT which differs (densified mean 2.0 vs 5.0)
    assert abs(out["error"]["intercept_r"] - 2.0) < 1e-6


def test_theil_sen_densifies_sparse_types(spark, sparse_dir):
    """Median-of-pairwise-slopes over the densified grid: C(5,2)=10 pairs
    per type, not C(2,2)=1 for the sparse type."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    out = {
        r["event_type"]: r
        for r in REGISTRY["theil_sen_daily_trend"].fn(spark, sparse_dir).collect()
    }
    assert out["click"]["n_pairs"] == 10
    assert out["error"]["n_pairs"] == 10, (
        "sparse type paired over occupied days only — densification lost"
    )


def test_autocorr_densifies_sparse_types(spark, sparse_dir):
    """Lag-k pairs over the densified series: lag 1 has span-1 = 4 pairs
    for EVERY type (the sparse type would have 1 undensified)."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    rows = REGISTRY["autocorr_daily_value"].fn(spark, sparse_dir).collect()
    n = {(r["event_type"], r["lag"]): r["n"] for r in rows}
    assert n[("click", 1)] == 4
    assert n[("error", 1)] == 4, (
        "sparse type lagged over occupied days only — densification lost"
    )


def test_corpus_wide_daily_series_not_densified(spark, tmp_path):
    """Counterexample rule: jackknife_daily_mean's day lattice is the
    OCCUPIED days. A corpus-wide zero day (total outage) must NOT be
    injected as a synthetic revenue-0 observation — 4 occupied days of a
    5-day span means n_days == 4."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    rows = []
    for i, d in enumerate((1, 2, 4, 5)):  # day 3 missing corpus-wide
        rows.append((i, dt.datetime(2024, 1, d, 12, 0, 0), 1, "click", 10.0, None))
    d = _write_events(spark, tmp_path, rows)
    out = REGISTRY["jackknife_daily_mean"].fn(spark, d).collect()
    assert len(out) == 1
    assert out[0]["n_days"] == 4, (
        "corpus-wide series densified — the deliberate NOT-densified "
        "grain rule (COVERAGE.md Round 9) was flipped"
    )


def test_value_psi_drift_driver_fold_matches_distributed(spark, tiers):
    """The driver fold (cut/ranks/edges/bin map/pivot in numpy) must
    produce the identical 10 rows as the distributed prefix + crossJoin
    formulation — including the float tail, which both paths compute in
    Spark over the same integers."""
    from hadoop_data_lake_spark.queries.registry import REGISTRY

    fn = REGISTRY["value_psi_drift"].fn
    sf = SF_DIR
    on, off = tiers.on_off(lambda: sorted(map(tuple, fn(spark, sf).collect())))
    assert on == off
    assert len(on) == 10 and {r[0] for r in on} == set(range(10))
