"""As-of (backward) join: the trades/quotes pattern via cogrouped
applyInPandas + merge_asof."""

import pyspark.sql.functions as F
import pytest

from hadoop_data_lake_spark.operators.asof import asof_join


def _frames(spark):
    trades = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:00", 1),
            ("A", "2024-01-01 10:05:00", 2),
            ("A", "2024-01-01 09:00:00", 3),   # before any quote -> nulls
            ("B", "2024-01-01 10:00:00", 4),   # key with no quotes at all
        ],
        "sym string, s string, trade_id long",
    ).select("sym", F.to_timestamp("s").alias("t_ts"), "trade_id")
    quotes = spark.createDataFrame(
        [
            ("A", "2024-01-01 09:30:00", 100),
            ("A", "2024-01-01 10:00:00", 200),  # exact-match ts (inclusive)
            ("A", "2024-01-01 10:00:00", 250),  # tie -> max of tie-break cols
            ("A", "2024-01-01 10:04:00", 300),
        ],
        "sym string, s string, px long",
    ).select("sym", F.to_timestamp("s").alias("q_ts"), "px")
    return trades, quotes


def test_asof_backward_semantics(spark):
    trades, quotes = _frames(spark)
    out = {r["trade_id"]: r for r in asof_join(trades, quotes, on="sym", left_ts="t_ts", right_ts="q_ts").collect()}
    assert out[1]["px"] == 250      # 10:00 trade takes the 10:00 quote, tie -> max
    assert out[2]["px"] == 300      # 10:05 takes 10:04
    assert out[3]["px"] is None     # nothing at-or-before 09:00
    assert out[4]["px"] is None     # no quotes for B at all
    assert len(out) == 4            # every left row exactly once


def test_asof_join_rejects_ambiguous_columns(spark):
    from hadoop_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 5.0)], "k int, t int, value double")
    right = spark.createDataFrame([(1, 8, 7.0)], "k int, rt int, value double")
    with pytest.raises(ValueError, match="disjoint"):
        asof_join(left, right, on="k", left_ts="t", right_ts="rt")
    reserved = spark.createDataFrame([(1, 8, 7.0)], "k int, rt int, __r double")
    with pytest.raises(ValueError, match="reserve"):
        asof_join(left.drop("value"), reserved, on="k", left_ts="t", right_ts="rt")


def test_asof_forward_matches_merge_asof(spark):
    import pandas as pd

    from hadoop_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 25, "l2"), (1, 40, "l3"), (2, 5, "l4")],
        "k long, lts long, lbl string",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (1, 30, 3.0), (2, 1, 9.0)],
        "k long, rts long, rv double",
    )
    got = {
        (r["k"], r["lts"]): (r["rts"], r["rv"])
        for r in asof_join(left, right, "k", "lts", "rts", direction="forward").collect()
    }
    # inclusive >=: left at 10 matches right at 10; 25 -> 30; 40 -> none
    assert got[(1, 10)] == (10, 1.0)
    assert got[(1, 25)] == (30, 3.0)
    assert got[(1, 40)] == (None, None)
    assert got[(2, 5)] == (None, None)

    # cross-check against pandas merge_asof on the same frames
    lp = left.toPandas().sort_values("lts")
    rp = right.toPandas().sort_values("rts")
    ref = pd.merge_asof(lp, rp, left_on="lts", right_on="rts", by="k", direction="forward")
    for _, row in ref.iterrows():
        exp = (None if pd.isna(row["rts"]) else row["rts"],
               None if pd.isna(row["rv"]) else row["rv"])
        assert got[(row["k"], row["lts"])] == exp


def test_asof_rejects_bad_direction(spark):
    import pytest as _pytest

    from hadoop_data_lake_spark.operators.asof import asof_join

    df = spark.createDataFrame([(1, 1)], "k long, t long")
    with _pytest.raises(ValueError):
        asof_join(df, df.selectExpr("k", "t as t2"), "k", "t", "t2", direction="sideways")


def test_asof_nearest_matches_merge_asof(spark):
    import pandas as pd

    from hadoop_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 24, "b"), (1, 26, "c"), (1, 25, "d"), (2, 100, "e"), (3, 7, "f")],
        "k long, lts long, lbl string",
    )
    right = spark.createDataFrame(
        [(1, 20, 1.0), (1, 30, 2.0), (2, 1, 3.0)],
        "k long, rts long, rv double",
    )
    got = {
        (r["k"], r["lts"]): (r["rts"], r["rv"])
        for r in asof_join(left, right, "k", "lts", "rts", direction="nearest").collect()
    }
    assert got[(1, 10)] == (20, 1.0)     # only forward in range? nearest is 20
    assert got[(1, 24)] == (20, 1.0)     # 4 back vs 6 fwd
    assert got[(1, 26)] == (30, 2.0)     # 6 back vs 4 fwd
    assert got[(1, 25)] == (20, 1.0)     # equidistant -> backward
    assert got[(2, 100)] == (1, 3.0)     # only backward exists
    assert got[(3, 7)] == (None, None)   # no right rows for key

    lp = left.toPandas().sort_values("lts")
    rp = right.toPandas().sort_values("rts")
    ref = pd.merge_asof(lp, rp, left_on="lts", right_on="rts", by="k", direction="nearest")
    for _, row in ref.iterrows():
        exp = (None if pd.isna(row["rts"]) else row["rts"],
               None if pd.isna(row["rv"]) else row["rv"])
        assert got[(row["k"], row["lts"])] == exp


def test_asof_running_frames_only(spark):
    """Every direction uses running frames only (a currentRow..
    unboundedFollowing frame is recomputed per row, O(n^2) per key), with
    rows unchanged on a fixture whose keys have unmatched leading and
    trailing left rows, equal-timestamp right ties, a NULL right payload
    and keys present on one side only."""
    from hadoop_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, "lead"), (1, 10, "tie"), (1, 15, "mid"), (1, 22, "null_px"),
         (1, 40, "trail"), (1, 40, "trail2"), (2, 5, "no_right")],
        "k long, lts long, lbl string",
    )
    right = spark.createDataFrame(
        [(1, 10, 2.0), (1, 10, 1.0), (1, 20, None), (1, 30, 3.0), (3, 1, 9.0)],
        "k long, rts long, rv double",
    )
    want = {
        "backward": [
            (1, 1, "lead", None, None), (1, 10, "tie", 10, 2.0),
            (1, 15, "mid", 10, 2.0), (1, 22, "null_px", 20, None),
            (1, 40, "trail", 30, 3.0), (1, 40, "trail2", 30, 3.0),
            (2, 5, "no_right", None, None),
        ],
        "forward": [
            (1, 1, "lead", 10, 1.0), (1, 10, "tie", 10, 1.0),
            (1, 15, "mid", 20, None), (1, 22, "null_px", 30, 3.0),
            (1, 40, "trail", None, None), (1, 40, "trail2", None, None),
            (2, 5, "no_right", None, None),
        ],
        "nearest": [
            (1, 1, "lead", 10, 1.0), (1, 10, "tie", 10, 2.0),
            (1, 15, "mid", 10, 2.0), (1, 22, "null_px", 20, None),
            (1, 40, "trail", 30, 3.0), (1, 40, "trail2", 30, 3.0),
            (2, 5, "no_right", None, None),
        ],
    }
    for direction, rows in want.items():
        out = asof_join(left, right, "k", "lts", "rts", direction=direction)
        plan = out._jdf.queryExecution().executedPlan().toString().lower()
        assert "unboundedfollowing" not in plan, direction
        got = sorted(map(tuple, out.collect()), key=lambda r: (r[0], r[1], r[2]))
        assert got == rows, direction
