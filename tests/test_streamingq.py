"""Registry-facing streaming queries (queries/streamingq.py): the
contracts the sf-testdata cannot exercise — NULL dedup keys and the
single-backlog-file precondition (review r7)."""

from __future__ import annotations

import pytest


def _write_events(tmp_path, rows):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [pd.Timestamp(2024, 1, 1, 10, r[1]) for r in rows],
            "user_id": pd.array(
                [r[2] for r in rows], dtype=pd.Int64Dtype()
            ),
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        str(tmp_path / "events.parquet"),
    )
    return str(tmp_path)


def test_q132_null_user_id_matches_oracle(spark, tmp_path):
    """A NULL user_id must not diverge the two engines: the oracle's
    COUNT(DISTINCT) ignores NULLs, and the Spark side filters NULL keys
    before dedup — both count the same key set (review r7)."""
    import duckdb

    from reddit_big_data_spark.queries.streamingq import q132_streaming_dedup

    # user 1 twice (dedup), a NULL-keyed row, user 2 once
    sf_dir = _write_events(
        tmp_path,
        [
            (1, 0, 1, "click"),
            (2, 5, 1, "click"),
            (3, 10, None, "click"),
            (4, 15, 2, "click"),
            (5, 20, 2, "view"),
        ],
    )
    got = {
        (r["event_type"], r["distinct_users"])
        for r in q132_streaming_dedup(spark, sf_dir).collect()
    }
    assert got == {("click", 2), ("view", 1)}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    from reddit_big_data_spark.registry import all_queries

    oracle = all_queries()["q132_streaming_dedup"].oracle
    want = {tuple(r) for r in con.execute(oracle).fetchall()}
    assert got == want


def test_single_backlog_file_precondition(tmp_path):
    """The watermark-stateful oracle equivalences are scoped to a
    one-file backlog (single micro-batch); anything else must fail
    LOUDLY instead of surfacing as an oracle value mismatch."""
    from reddit_big_data_spark.queries.streamingq import (
        _assert_single_backlog_file,
    )

    with pytest.raises(ValueError, match="single-micro-batch"):
        _assert_single_backlog_file(str(tmp_path))  # no events.parquet
    d = tmp_path / "events.parquet"
    d.mkdir()  # a DIRECTORY (multi-file layout) must also be rejected
    with pytest.raises(ValueError, match="single-micro-batch"):
        _assert_single_backlog_file(str(tmp_path))


def test_stateful_drain_conf_sizes_from_session(spark, monkeypatch):
    """The drain's shuffle-partition bound is the session's cores
    (defaultParallelism), not the host's CPU count, and the previous
    value comes back on exit."""
    import os

    from reddit_big_data_spark.queries.streamingq import _stateful_drain_conf

    key = "spark.sql.shuffle.partitions"
    monkeypatch.setattr(os, "cpu_count", lambda: 1)
    outer = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        for cap in (8, 2):
            with _stateful_drain_conf(spark, cap=cap):
                got = int(spark.conf.get(key))
            want = min(16, spark.sparkContext.defaultParallelism, cap)
            assert got == want, (cap, got, want)
            assert spark.conf.get(key) == "16"
    finally:
        spark.conf.set(key, outer)
