"""Unit tests for the pipeline-maintenance operators: snapshot diff
(operators/diff.py) and mergeable time-grain rollups
(operators/rollup.py). The salted-join operator is covered by
tests/test_properties.py and q71's oracle."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from reddit_big_data_spark.operators.diff import snapshot_diff
from reddit_big_data_spark.operators.rollup import (
    merge_rollup,
    time_rollup_partials,
)


def test_snapshot_diff_classifies_all_four_kinds(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "k int, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, None), (5, "e")], "k int, v string"
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, keys=["k"], compare_cols=["v"]).collect()
    }
    assert got == {
        1: "removed",
        2: "unchanged",
        3: "changed",
        4: "unchanged",  # NULL == NULL under eqNullSafe
        5: "added",
    }


def test_snapshot_diff_null_transitions_are_changes(spark):
    old = spark.createDataFrame([(1, "x"), (2, None)], "k int, v string")
    new = spark.createDataFrame([(1, None), (2, "y")], "k int, v string")
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, keys=["k"], compare_cols=["v"]).collect()
    }
    assert got == {1: "changed", 2: "changed"}


def test_snapshot_diff_carries_old_and_new_values(spark):
    old = spark.createDataFrame([(1, 10.0)], "k int, v double")
    new = spark.createDataFrame([(1, 11.0)], "k int, v double")
    row = snapshot_diff(old, new, keys=["k"], compare_cols=["v"]).collect()[0]
    assert (row["old_v"], row["new_v"]) == (10.0, 11.0)


def _events_df(spark):
    t0 = dt.datetime(2024, 3, 1, 22, 15)
    rows = [
        # two hours on day 1, one hour on day 2, two keys
        ("a", t0, 1.0),
        ("a", t0 + dt.timedelta(minutes=30), 3.0),
        ("a", t0 + dt.timedelta(hours=1), 5.0),
        ("b", t0, 7.0),
        ("b", t0 + dt.timedelta(days=1), 11.0),
    ]
    return spark.createDataFrame(rows, "key string, ts timestamp, v double")


def test_rollup_merge_matches_direct_aggregation(spark):
    df = _events_df(spark)
    hourly = time_rollup_partials(df, "ts", ["key"], "v", grain="hour")
    daily = merge_rollup(hourly, ["key"], grain="day")
    got = {
        (r["key"], str(r["bucket"].date())): (
            r["cnt"],
            r["sum_v"],
            r["min_v"],
            r["max_v"],
        )
        for r in daily.collect()
    }
    direct = df.groupBy(
        F.date_trunc("day", "ts").alias("bucket"), "key"
    ).agg(
        F.count("v").alias("cnt"),
        F.sum("v").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    want = {
        (r["key"], str(r["bucket"].date())): (
            r["cnt"],
            r["sum_v"],
            r["min_v"],
            r["max_v"],
        )
        for r in direct.collect()
    }
    assert got == want


def test_rollup_chains_hour_day_week_losslessly(spark):
    df = _events_df(spark)
    hourly = time_rollup_partials(df, "ts", ["key"], "v", grain="hour")
    weekly_via_day = merge_rollup(
        merge_rollup(hourly, ["key"], grain="day"), ["key"], grain="week"
    )
    weekly_direct = merge_rollup(hourly, ["key"], grain="week")
    assert sorted(map(tuple, weekly_via_day.collect())) == sorted(
        map(tuple, weekly_direct.collect())
    )
