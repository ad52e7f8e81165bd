"""N10 sentiment query: lexicon scoring over tokenized documents,
aggregated per lang — oracle-checked (the lexicon and formula are pure
SQL on both engines). The per-row probabilities and the join-free column
attachment are unit-tested in tests/test_sentiment.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_big_data_spark.operators.attach import attach_derived
from reddit_big_data_spark.operators.sentiment import (
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    sentiment_columns,
)
from reddit_big_data_spark.operators.text import normalize
from reddit_big_data_spark.registry import register
from reddit_big_data_spark.sources.io import read_table

_POS_SQL = ", ".join(f"'{w}'" for w in POSITIVE_WORDS)
_NEG_SQL = ", ".join(f"'{w}'" for w in NEGATIVE_WORDS)


@register(
    "q25_sentiment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    scored AS (
      SELECT lang,
             len(list_filter(t, x -> x IN ({_POS_SQL}))) AS pos,
             len(list_filter(t, x -> x IN ({_NEG_SQL}))) AS neg
      FROM toks
    ),
    probs AS (
      SELECT lang,
             CAST(pos + 1 AS DOUBLE) / (pos + neg + 2) AS positive_prob,
             CASE WHEN pos > neg THEN 'positive'
                  WHEN pos < neg THEN 'negative'
                  ELSE 'neutral' END AS sentiment_result
      FROM scored
    )
    SELECT lang, sentiment_result,
           COUNT(*) AS cnt,
           ROUND(AVG(positive_prob), 6) AS avg_positive_prob
    FROM probs
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="lexicon sentiment scoring, reference-parity output schema (N10)",
)
def q25_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.split(normalize("text"), " ").alias("t"))
    scored = attach_derived(toks, sentiment_columns(F.col("t")))
    return (
        scored.groupBy("lang", "sentiment_result")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("positive_prob"), 6).alias("avg_positive_prob"),
        )
        .orderBy("lang", "sentiment_result")
    )
