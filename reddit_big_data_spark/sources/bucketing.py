"""Bucketed tables: pre-partitioned storage so repeated joins/aggs on the
bucket key skip their shuffle entirely.

The reference re-reads materialized parquet and re-shuffles it on every
join (reference code/eda/project_eda.py:568,654 writes/reads plain
parquet). At 100 TB the shuffle IS the bottleneck; bucketBy amortizes it
into the write: two tables bucketed on the same key x bucket-count
sort-merge-join with NO Exchange (asserted in tests/test_bucketing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize as a bucketed (and optionally sorted) managed table.
    Bucketed writes require the table catalog (saveAsTable) — plain
    .parquet(path) cannot record bucket metadata."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)
