"""Sentiment scoring + attach/map_labels rewrites (N10, J3, U3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from reddit_big_data_spark.operators.attach import attach_derived, map_labels
from reddit_big_data_spark.operators.sentiment import sentiment_columns


def test_scorer_probabilities_and_labels(spark):
    df = spark.createDataFrame(
        [
            (1, ["fast", "fast", "slow"]),   # pos=2 neg=1 -> positive
            (2, ["slow", "scan"]),            # pos=0 neg=2 -> negative
            (3, ["the", "cat"]),              # neutral, probs 0.5
        ],
        "id: int, tokens: array<string>",
    )
    scored = attach_derived(df, sentiment_columns(F.col("tokens")))
    out = {r["id"]: r for r in scored.collect()}
    assert out[1]["sentiment_result"] == "positive"
    assert abs(out[1]["positive_prob"] - 3 / 5) < 1e-12  # (2+1)/(3+2)
    assert out[2]["sentiment_result"] == "negative"
    assert out[3]["sentiment_result"] == "neutral"
    assert abs(out[3]["positive_prob"] - 0.5) < 1e-12
    for r in out.values():
        assert abs(r["positive_prob"] + r["negative_prob"] - 1.0) < 1e-12


def test_attach_derived_no_join_in_plan(spark):
    """J3 rewrite: attaching derived columns must add NO join/exchange."""
    df = spark.createDataFrame([(1, ["fast"])], "id: int, tokens: array<string>")
    out = attach_derived(df, sentiment_columns(F.col("tokens")))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    assert out.columns == ["id", "tokens", "positive_prob", "negative_prob", "sentiment_result"]


def test_map_labels_when_chain(spark):
    df = spark.createDataFrame([("a",), ("b",), ("zz",)], ["k"])
    out = df.select(map_labels("k", {"a": 1, "b": 2}, default=-1).alias("v"))
    assert [r["v"] for r in out.collect()] == [1, 2, -1]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan
