"""Mergeable time-grain rollups (the "hypertable rollup" pattern).

At 100 TB you do not re-scan raw events to answer a coarser-grain
question: you materialize fine-grain PARTIAL aggregate states once
(hour × key), and every coarser rollup (day, week, …) is a cheap merge
of partials — count/sum combine by SUM, min/max by themselves, and avg
is derived sum/count AFTER the merge (never averaged-of-averages).
Exact twin of the mergeable-sketch rollups in ``operators/sketches.py``
(HLL) and ``queries/cms.py`` (count-min), but for exact algebraic stats.

Both steps are plain groupBy aggregations: map-side partial combine,
one shuffle each, and the merge shuffles only |hours × keys| partial
rows — not raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: partial-state columns a rollup carries; everything here merges
#: associatively so any grain can be derived from any finer grain.
_STATE = ("cnt", "sum_v", "min_v", "max_v")


def time_rollup_partials(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    value_col: str,
    grain: str = "hour",
) -> DataFrame:
    """Aggregate raw rows into mergeable partial states at ``grain``.

    Output schema: ``bucket timestamp, *keys, cnt, sum_v, min_v, max_v``.
    This is the materialize-once pass over raw data.
    """
    bucket = F.date_trunc(grain, F.col(ts_col)).alias("bucket")
    return df.groupBy(bucket, *keys).agg(
        F.count(value_col).alias("cnt"),
        F.sum(value_col).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def merge_rollup(partials: DataFrame, keys: list[str], grain: str) -> DataFrame:
    """Merge fine-grain partial states up to a coarser ``grain``.

    Touches only the partial rows; raw data is never re-read. The states
    stay mergeable, so rollups chain (hour → day → week) losslessly.
    """
    bucket = F.date_trunc(grain, F.col("bucket")).alias("bucket")
    return partials.groupBy(bucket, *keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )

