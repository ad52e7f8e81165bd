"""N10: lexicon sentiment scoring.

The reference downloads a John Snow Labs DL model
(analyze_sentimentdl_use_twitter, code/nlp/Sentiment_Analysis.py:97-117)
and unpacks its annotation structs with row-at-a-time UDFs. Offline CI
can't (and shouldn't) depend on a model download, so per SURVEY.md §7 the
scorer is a deterministic lexicon model with the SAME output columns
(positive_prob double, negative_prob double, sentiment_result string).

`sentiment_columns` returns the three scoring expressions; q25 attaches
them with `attach_derived` — pure native expressions (codegen'd
size/filter/when), no Python workers and no join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic demo lexicon (kept inline so the DuckDB oracle pins the
# identical lists; replace wholesale for a real corpus).
POSITIVE_WORDS: tuple[str, ...] = ("fast", "big", "value", "merge")
NEGATIVE_WORDS: tuple[str, ...] = ("slow", "small", "filter", "scan")


def sentiment_columns(
    tokens: Column,
    positive: tuple[str, ...] = POSITIVE_WORDS,
    negative: tuple[str, ...] = NEGATIVE_WORDS,
) -> dict[str, Column]:
    """The scoring expressions: Laplace-smoothed polarity probabilities.

    positive_prob = (pos+1)/(pos+neg+2); duplicates count (multiplicity
    matters for intensity), hence filter+size, not array_intersect.
    """
    pos = F.size(F.filter(tokens, lambda t: t.isin(*positive)))
    neg = F.size(F.filter(tokens, lambda t: t.isin(*negative)))
    pos_prob = (pos + 1).cast("double") / (pos + neg + 2).cast("double")
    return {
        "positive_prob": pos_prob,
        "negative_prob": 1.0 - pos_prob,
        "sentiment_result": F.when(pos > neg, "positive")
        .when(pos < neg, "negative")
        .otherwise("neutral"),
    }

