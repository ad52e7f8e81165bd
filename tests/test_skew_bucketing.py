"""Skew helpers: salted results must equal unsalted results exactly on a
deliberately skewed fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from reddit_big_data_spark.operators.skew import salted_aggregate, salted_join


def _skewed(spark, n=10_000):
    # 90% of rows share key 'hot'
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 9, "hot")
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 10).cast("string")))
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_salted_aggregate_matches_plain(spark):
    df = _skewed(spark)
    got = {
        r["k"]: (r["cnt"], r["total"], r["mx"], round(r["mean"], 9))
        for r in salted_aggregate(
            df,
            ["k"],
            {
                "cnt": ("count", "v"),
                "total": ("sum", "v"),
                "mx": ("max", "v"),
                "mean": ("avg", "v"),
            },
        ).collect()
    }
    want = {
        r["k"]: (r["cnt"], r["total"], r["mx"], round(r["mean"], 9))
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("cnt"),
            F.sum("v").alias("total"),
            F.max("v").alias("mx"),
            F.avg("v").alias("mean"),
        )
        .collect()
    }
    assert got == want


def test_salted_aggregate_rejects_nonalgebraic(spark):
    import pytest

    with pytest.raises(ValueError, match="non-algebraic"):
        salted_aggregate(_skewed(spark), ["k"], {"m": ("median", "v")})


def test_salted_join_matches_plain(spark):
    facts = _skewed(spark, 5_000)
    dim = spark.createDataFrame(
        [("hot", "HOT"), ("k1", "ONE"), ("k2", "TWO")], ["k", "label"]
    )
    got = (
        salted_join(facts, dim, "k")
        .groupBy("k", "label")
        .agg(F.count("*").alias("c"), F.round(F.sum("v"), 4).alias("s"))
    )
    want = (
        facts.join(dim, "k")
        .groupBy("k", "label")
        .agg(F.count("*").alias("c"), F.round(F.sum("v"), 4).alias("s"))
    )
    as_map = lambda df: {(r["k"], r["label"]): (r["c"], r["s"]) for r in df.collect()}
    assert as_map(got) == as_map(want)
