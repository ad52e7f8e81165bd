"""Streaming extension test: drain the events file-stream through the
watermarked windowed aggregation and assert it equals the batch run of
the SAME operator (Structured Streaming's unified-model guarantee) —
which itself is oracle-checked as q51."""

from __future__ import annotations

from pyspark.sql import functions as F

from reddit_big_data_spark.sources.io import read_table
from reddit_big_data_spark.streaming.windows import (
    run_to_memory_sink,
    session_window_counts,
    stream_events,
    windowed_counts,
)
from tests.conftest import SF_SMOKE


def _stagger_mtimes(*paths) -> None:
    """Pin file-source batch order by EXPLICIT modification times (the
    mechanism split_events_backlog uses in production): paths are aged
    oldest-first, 100 s apart. Replaces the old 1.1 s wall sleeps
    between writes — deterministic on any filesystem mtime granularity
    and ~1 s faster per ordered file (round 16)."""
    import os

    now = os.stat(paths[-1]).st_mtime
    for i, p in enumerate(paths):
        age = (len(paths) - 1 - i) * 100
        os.utime(p, (now - age, now - age))


def test_stream_equals_batch(spark):
    stream = stream_events(spark, SF_SMOKE)
    assert stream.isStreaming
    run_to_memory_sink(windowed_counts(stream), "t_stream_counts")
    got = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in spark.table("t_stream_counts").collect()
    }

    batch = windowed_counts(read_table(spark, SF_SMOKE, "events"))
    want = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want
    assert len(want) > 0


def test_session_windows_match_gaps_and_islands(spark):
    """F.session_window on the stream must produce the same session
    boundaries as the batch gaps-and-islands sessionize operator."""
    from reddit_big_data_spark.operators.temporal_joins import sessionize

    stream = stream_events(spark, SF_SMOKE)
    run_to_memory_sink(session_window_counts(stream), "t_session_counts")
    got = {
        (r["user_id"], r["session_start"], r["n_events"], r["sum_value"])
        for r in spark.table("t_session_counts").collect()
    }

    ev = read_table(spark, SF_SMOKE, "events").select("user_id", "ts", "value")
    batch = (
        sessionize(ev, "user_id", "ts", "30 minutes")
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    want = {
        (r["user_id"], r["session_start"], r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_session_window_boundary_semantics(spark):
    """Pin the EXACT-GAP boundary rule q136's oracle relies on: an event
    arriving exactly `gap` after the previous one MERGES into the same
    session (F.session_window extends while next_ts <= last_ts + gap) —
    the same `>`-starts-new rule as sessionize's gaps-and-islands flag.
    The sf testdata's micro-resolution timestamps never land exactly on
    a boundary, so this synthetic frame is the only coverage of the rule
    itself (batch mode of the SAME operator — the unified model makes it
    the streaming semantics too, per test_session_windows_match_*)."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 1.0),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0), 1.0),  # exactly gap: merges
        (1, dt.datetime(2024, 1, 1, 1, 0, 1), 1.0),  # gap + 1s: new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = sorted(
        (r["session_start"], r["n_events"])
        for r in session_window_counts(df, gap="30 minutes").collect()
    )
    assert got == [
        (dt.datetime(2024, 1, 1, 0, 0, 0), 2),
        (dt.datetime(2024, 1, 1, 1, 0, 1), 1),
    ]
    # and the session END is last_ts + gap — the invariant q136 uses to
    # recover the true duration (unix(end) - 1800 - unix(start))
    ends = {
        r["session_start"]: r["session_end"]
        for r in session_window_counts(df, gap="30 minutes").collect()
    }
    assert ends[dt.datetime(2024, 1, 1, 0, 0, 0)] == dt.datetime(
        2024, 1, 1, 1, 0, 0
    )


def test_stateful_user_profiles(spark):
    """applyInPandasWithState across micro-batches must converge to the
    batch groupBy answer once the stream is drained."""
    from reddit_big_data_spark.streaming.stateful import user_profiles

    stream = stream_events(spark, SF_SMOKE)
    run_to_memory_sink(user_profiles(stream), "t_profiles", mode="update")
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 4), r["max_gap_s"])
        for r in spark.table("t_profiles").collect()
    }

    ev = read_table(spark, SF_SMOKE, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = ev.withColumn(
        "gap", F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    )
    want = {
        r["user_id"]: (r["n"], round(r["s"], 4), r["g"] or 0)
        for r in gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("s"),
            F.max("gap").alias("g"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_sliding_windows_run(spark):
    stream = stream_events(spark, SF_SMOKE)
    run_to_memory_sink(
        windowed_counts(stream, window="12 hours", slide="6 hours"),
        "t_sliding_counts",
    )
    rows = spark.table("t_sliding_counts").collect()
    assert len(rows) > 0
    # each event lands in 2 overlapping 12h/6h windows => roughly double
    tumbling = windowed_counts(
        read_table(spark, SF_SMOKE, "events"), window="12 hours"
    ).count()
    assert len(rows) > tumbling


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics: a row arriving in a later micro-batch whose
    window is already behind the watermark must be DROPPED, and a window
    the watermark never passes must never emit in append mode."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reddit_big_data_spark.streaming.windows import EVENTS_RAW_SCHEMA

    def ns(h, m=0):
        return int(pd.Timestamp(2024, 1, 1, h, m).value)

    d = str(tmp_path)
    f1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            # two rows in [10:00, 11:00), one at 20:00 advancing the
            # watermark (1h delay) to 19:00
            "ts": [ns(10, 0), ns(10, 20), ns(20, 0)],
            "user_id": [1, 1, 2],
            "event_type": ["a", "a", "a"],
            "value": [1.0, 1.0, 1.0],
            "props": ["{}"] * 3,
        }
    )
    pq.write_table(pa.Table.from_pandas(f1), d + "/f1.parquet")
    # watermark updates take effect one batch late: f2 is a buffer batch
    # during which the 19:00 watermark becomes effective and the
    # [10:00, 11:00) window is finalized + emitted
    f2 = pd.DataFrame(
        {
            "event_id": [4],
            "ts": [ns(20, 30)],
            "user_id": [2],
            "event_type": ["a"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    pq.write_table(pa.Table.from_pandas(f2), d + "/f2.parquet")
    f3 = pd.DataFrame(
        {
            "event_id": [5],
            "ts": [ns(10, 30)],  # late: watermark has been 19:00 for a batch
            "user_id": [1],
            "event_type": ["a"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    pq.write_table(pa.Table.from_pandas(f3), d + "/f3.parquet")
    _stagger_mtimes(
        d + "/f1.parquet", d + "/f2.parquet", d + "/f3.parquet"
    )

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    run_to_memory_sink(
        windowed_counts(raw, window="1 hour"), "t_late", mode="append"
    )
    got = {
        (r["window_start"].hour, r["cnt"])
        for r in spark.table("t_late").collect()
    }
    # the late 10:30 row is dropped (cnt stays 2, no second (10, 1) row);
    # the 20:00/20:30 windows are never passed by the watermark, so append
    # mode never emits them
    assert got == {(10, 2)}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark
    horizon are suppressed across micro-batches; state stays bounded."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reddit_big_data_spark.streaming.windows import (
        EVENTS_RAW_SCHEMA,
        dedup_stream,
    )

    def ns(h, m=0):
        return int(pd.Timestamp(2024, 1, 1, h, m).value)

    d = str(tmp_path)
    f1 = pd.DataFrame(
        {
            "event_id": [1, 2, 1],  # in-batch duplicate of id 1
            "ts": [ns(10), ns(10, 5), ns(10, 10)],
            "user_id": [1, 2, 1],
            "event_type": ["a"] * 3,
            "value": [1.0] * 3,
            "props": ["{}"] * 3,
        }
    )
    pq.write_table(pa.Table.from_pandas(f1), d + "/f1.parquet")
    f2 = pd.DataFrame(
        {
            "event_id": [2, 3],  # cross-batch duplicate of id 2 + a new id
            "ts": [ns(10, 20), ns(10, 30)],
            "user_id": [2, 3],
            "event_type": ["a"] * 2,
            "value": [1.0] * 2,
            "props": ["{}"] * 2,
        }
    )
    pq.write_table(pa.Table.from_pandas(f2), d + "/f2.parquet")
    _stagger_mtimes(d + "/f1.parquet", d + "/f2.parquet")

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    run_to_memory_sink(
        dedup_stream(raw, keys=["event_id"]), "t_dedup", mode="append"
    )
    rows = spark.table("t_dedup").collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3]  # each id exactly once, first arrival kept
    first_ts = {r["event_id"]: r["ts"] for r in rows}
    assert first_ts[1] == pd.Timestamp(2024, 1, 1, 10)  # not the 10:10 dup


def test_stream_static_enrich_equals_batch(spark):
    """Stream-static broadcast join: drained stream + static dim must
    equal the same join run in batch (and the dim attributes must land on
    every matched row)."""
    from reddit_big_data_spark.streaming.joins import enrich_stream

    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "conversion")],
        "event_type: string, label: string",
    )
    stream = stream_events(spark, SF_SMOKE)
    run_to_memory_sink(
        enrich_stream(stream, dim, "event_type").select(
            "event_id", "event_type", "label"
        ),
        "t_enriched",
        mode="append",
    )
    got = {
        (r["event_id"], r["label"])
        for r in spark.table("t_enriched").collect()
    }
    batch = enrich_stream(
        read_table(spark, SF_SMOKE, "events"), dim, "event_type"
    ).select("event_id", "label")
    want = {(r["event_id"], r["label"]) for r in batch.collect()}
    assert got == want
    assert any(lbl is not None for _, lbl in want)  # join actually matched


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream interval join (click attribution shape): clicks
    within 30 minutes after a view, per user. Drained result must equal
    the batch twin of the SAME operator on the same rows."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reddit_big_data_spark.sources.io import read_table as _rt  # noqa: F401
    from reddit_big_data_spark.streaming.joins import interval_join_streams
    from reddit_big_data_spark.streaming.windows import EVENTS_RAW_SCHEMA

    def ns(h, m=0):
        return int(pd.Timestamp(2024, 1, 1, h, m).value)

    def mk(rows):
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )

    vd, cd = str(tmp_path / "views"), str(tmp_path / "clicks")
    import os

    os.makedirs(vd), os.makedirs(cd)
    # views at 10:00/12:00 (u1), 10:10 (u2); clicks at 10:05, 10:45 (u1),
    # 10:20 (u2), 12:10 (u1): expected pairs = (view@10:00, click@10:05),
    # (view@10:10, click@10:20), (view@12:00, click@12:10). click@10:45 is
    # outside the 30m horizon of view@10:00.
    pq.write_table(
        pa.Table.from_pandas(
            mk([(1, ns(10, 0), 1, "view"), (2, ns(10, 10), 2, "view")])
        ),
        vd + "/v1.parquet",
    )
    pq.write_table(
        pa.Table.from_pandas(
            mk([(10, ns(10, 5), 1, "click"), (11, ns(10, 45), 1, "click")])
        ),
        cd + "/c1.parquet",
    )
    pq.write_table(
        pa.Table.from_pandas(mk([(3, ns(12, 0), 1, "view")])), vd + "/v2.parquet"
    )
    pq.write_table(
        pa.Table.from_pandas(
            mk([(12, ns(10, 20), 2, "click"), (13, ns(12, 10), 1, "click")])
        ),
        cd + "/c2.parquet",
    )
    _stagger_mtimes(vd + "/v1.parquet", vd + "/v2.parquet")
    _stagger_mtimes(cd + "/c1.parquet", cd + "/c2.parquet")

    def to_stream(path):
        raw = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))

    joined = interval_join_streams(
        to_stream(vd), to_stream(cd), key="user_id", max_delay="30 minutes"
    ).select("event_id", "r_event_id")
    run_to_memory_sink(joined, "t_attributed", mode="append")
    got = {
        (r["event_id"], r["r_event_id"])
        for r in spark.table("t_attributed").collect()
    }

    def to_batch(path):
        raw = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))

    want = {
        (r["event_id"], r["r_event_id"])
        for r in interval_join_streams(
            to_batch(vd), to_batch(cd), key="user_id", max_delay="30 minutes"
        )
        .select("event_id", "r_event_id")
        .collect()
    }
    assert got == want == {(1, 10), (2, 12), (3, 13)}


class _FakeGroupState:
    """Stands in for the applyInPandasWithState GroupState so the profile
    state machine runs as plain pandas, without a stream."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_profile_processor_state_machine_pure_pandas():
    """Drive _update_profile directly: two micro-batches for one user
    must accumulate (n, sum, max gap) across the GroupState round-trip
    exactly like a hand computation."""
    import pandas as pd

    from reddit_big_data_spark.streaming.stateful import _update_profile

    state = _FakeGroupState()

    def batch(epochs_values):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([e for e, _ in epochs_values], unit="s"),
                "value": [v for _, v in epochs_values],
            }
        )

    # Batch 1: two events 10s apart (arriving out of order — the
    # operator must sort by ts before folding).
    out1 = list(
        _update_profile((7,), iter([batch([(110, 2.0), (100, 1.0)])]), state)
    )
    assert len(out1) == 1
    row = out1[0].iloc[0]
    assert (
        row["user_id"],
        row["n_events"],
        row["sum_value"],
        row["max_gap_s"],
    ) == (7, 2, 3.0, 10)

    # Batch 2: one event 100s after the last -> max gap widens; counters
    # continue from the persisted state tuple, proving the round-trip.
    out2 = list(_update_profile((7,), iter([batch([(210, 4.0)])]), state))
    row = out2[0].iloc[0]
    assert (
        row["user_id"],
        row["n_events"],
        row["sum_value"],
        row["max_gap_s"],
    ) == (7, 3, 7.0, 100)


def test_streaming_sketch_ingest_merges_to_exact(spark):
    """Two-level rollup with a REAL streaming level 1: the per-(type, day)
    HLL sketches maintained by the stream, once merged with
    hll_union_agg (level 2, touching only the blobs), must estimate the
    same distinct-user counts as the batch exact computation — at this
    scale (~150 distinct per type) the sketch is exact, so equality is
    strict."""
    from reddit_big_data_spark.streaming.windows import streaming_daily_sketches

    stream = stream_events(spark, SF_SMOKE)
    run_to_memory_sink(
        streaming_daily_sketches(stream), "t_daily_sketches", mode="complete"
    )
    partials = spark.table("t_daily_sketches")
    merged = {
        r["event_type"]: r["nd"]
        for r in partials.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("nd"))
        .collect()
    }
    exact = {
        r["event_type"]: r["nd"]
        for r in read_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert merged == exact and len(exact) > 0


def _write_ts_file(path, rows):
    """rows = (user_id, ts[, value]); ts written as parquet micros so the
    stream schema can declare a plain TIMESTAMP column."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "user_id": [r[0] for r in rows],
                    "ts": pd.Series(
                        [pd.Timestamp(r[1]) for r in rows]
                    ).astype("datetime64[us]"),
                    "value": [
                        float(r[2]) if len(r) > 2 else 0.0 for r in rows
                    ],
                }
            )
        ),
        path,
    )


def _two_file_outer_drain(spark, tmp_path, name, adv_ts):
    """Shared fixture for the outer-eviction pins: one unmatched left row
    at 10:00 (horizon 10:30) plus one matched pair, then an advancer file
    at adv_ts on BOTH sides; drain the 30-minute left_outer join."""
    import datetime as dt
    import os

    from reddit_big_data_spark.streaming.joins import interval_join_streams

    L, R = str(tmp_path / f"{name}_L"), str(tmp_path / f"{name}_R")
    os.makedirs(L), os.makedirs(R)
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    _write_ts_file(L + "/f1.parquet", [(1, t0), (2, t0)])
    _write_ts_file(R + "/f1.parquet", [(2, dt.datetime(2024, 1, 1, 10, 10), 7.0)])
    _write_ts_file(L + "/f2.parquet", [(99, adv_ts)])
    _write_ts_file(R + "/f2.parquet", [(98, adv_ts)])
    for d in (L, R):
        os.utime(d + "/f1.parquet", (1_700_000_000,) * 2)
        os.utime(d + "/f2.parquet", (1_700_000_010,) * 2)
    schema = "user_id long, ts timestamp, value double"

    def src(path):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    joined = interval_join_streams(
        src(L).select("user_id", "ts"),
        src(R),
        key="user_id",
        max_delay="30 minutes",
        watermark="0 seconds",
        how="left_outer",
    )
    run_to_memory_sink(joined, f"t_outer_{name}", mode="append")
    return {
        (r["user_id"], r["r_ts"] is None)
        for r in spark.table(f"t_outer_{name}").collect()
        if r["user_id"] < 90  # drop the advancer rows themselves
    }


def test_interval_join_outer_eviction_is_strict(spark, tmp_path):
    """q146's eviction rule, pinned on both edges: an unmatched left row
    null-pads ONLY in a batch whose watermark is STRICTLY past
    left_ts + max_delay. With the advancer exactly AT the 10:30 horizon
    the pad must NOT emit (a right row at the watermark could still
    match); one millisecond past, it must. The pad arrives in the
    trailing no-data batch availableNow runs after the final watermark
    advance — the mechanism q146's single-sentinel staging relies on."""
    import datetime as dt

    at_horizon = _two_file_outer_drain(
        spark, tmp_path, "ateq", dt.datetime(2024, 1, 1, 10, 30)
    )
    assert at_horizon == {(2, False)}  # inner match only; no pad for u1
    past = _two_file_outer_drain(
        spark, tmp_path, "past", dt.datetime(2024, 1, 1, 10, 30, 0, 1000)
    )
    assert past == {(2, False), (1, True)}


def test_interval_join_outer_filter_pushdown_trap(spark, tmp_path):
    """The trap q146's development hit, pinned so a Spark behavior change
    is loud: Catalyst pushes a deterministic event-type filter BELOW the
    EventTimeWatermark node, so watermarking the raw stream upstream of
    the branch filters does NOT let other event types advance event
    time — a 'view' advancer is removed at the scan, the watermark
    stalls, and the unmatched click never null-pads. The fix (advancer
    rows that survive both filters) is proven by q146's oracle run."""
    import datetime as dt
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reddit_big_data_spark.streaming.joins import interval_join_streams

    B = str(tmp_path / "trap")
    os.makedirs(B)

    def write(path, rows):  # (user_id, ts, event_type)
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(
                    {
                        "user_id": [r[0] for r in rows],
                        "ts": pd.Series(
                            [pd.Timestamp(r[1]) for r in rows]
                        ).astype("datetime64[us]"),
                        "event_type": [r[2] for r in rows],
                        "value": [0.0] * len(rows),
                    }
                )
            ),
            path,
        )

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    write(B + "/f1.parquet", [(1, t0, "click")])
    # An advancer far past the horizon — but of an event type NEITHER
    # branch keeps.
    write(B + "/f2.parquet", [(99, dt.datetime(2024, 1, 3), "view")])
    os.utime(B + "/f1.parquet", (1_700_000_000,) * 2)
    os.utime(B + "/f2.parquet", (1_700_000_010,) * 2)
    schema = "user_id long, ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(B)
        .withWatermark("ts", "0 seconds")  # upstream of the filters
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = interval_join_streams(
        clicks,
        purchases,
        key="user_id",
        max_delay="30 minutes",
        watermark=None,  # caller watermarked upstream
        how="left_outer",
    )
    run_to_memory_sink(joined, "t_outer_trap", mode="append")
    # The filter pushdown starves the watermark nodes: no pad emits.
    assert spark.table("t_outer_trap").count() == 0


def test_interval_join_rejects_unknown_how(spark):
    import pytest

    from reddit_big_data_spark.streaming.joins import interval_join_streams

    df = spark.range(1).select(
        F.col("id").alias("user_id"), F.current_timestamp().alias("ts")
    )
    with pytest.raises(ValueError, match="unsupported stream-stream"):
        interval_join_streams(df, df, key="user_id", how="full_outer")


def test_reorder_buffer_matches_in_order_result(spark, tmp_path):
    """VERDICT r14 #5: user_profiles_reordered must produce the IN-ORDER
    sequential profile when events arrive out of timestamp order across
    micro-batches but within the watermark bound — the case where the
    plain sequential operator under-counts the straddled gap. Also pins
    that the buffer drains via event-time timers (the flush heartbeat is
    another user entirely; user 1 gets no new rows after its disorder)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reddit_big_data_spark.streaming.stateful import (
        user_profiles,
        user_profiles_reordered,
    )
    from reddit_big_data_spark.streaming.windows import EVENTS_RAW_SCHEMA

    def ns(h, m=0):
        return int(pd.Timestamp(2024, 1, 1, h, m).value)

    def write(fname, rows):
        pdf = pd.DataFrame(
            {
                "event_id": list(range(len(rows))),
                "ts": [t for t, _, _ in rows],
                "user_id": [u for _, u, _ in rows],
                "event_type": ["a"] * len(rows),
                "value": [v for _, _, v in rows],
                "props": ["{}"] * len(rows),
            }
        )
        pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / fname))

    # user 1 in-order truth: 10:00, 10:10, 10:40 -> gaps 600 s and 1800 s.
    # Delivery: 10:00 and 10:40 first, then 10:10 LATE-but-within-bound in
    # a later batch (watermark is far behind — the 1 h delay off 10:40).
    # The sequential operator folds 10:10 after 10:40: its max_gap reads
    # 2400 (10:00 -> 10:40) and never sees the true 1800 split.
    write("f1.parquet", [(ns(10, 0), 1, 1.0), (ns(10, 40), 1, 3.0)])
    write("f2.parquet", [(ns(10, 10), 1, 2.0)])
    # flush heartbeat on ANOTHER user: advances the global watermark past
    # 10:40 + 1 h so user 1's buffered tail finalizes purely via its timer
    write("f3.parquet", [(ns(13, 0), 99, 0.0)])
    _stagger_mtimes(
        str(tmp_path / "f1.parquet"),
        str(tmp_path / "f2.parquet"),
        str(tmp_path / "f3.parquet"),
    )

    def drain(op, sink):
        raw = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path))
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        from reddit_big_data_spark.streaming.windows import run_to_memory_sink

        run_to_memory_sink(op(raw), sink, mode="update")
        rows = spark.table(sink).collect()
        # update mode appends one row per (user, batch); the final state
        # is the row with the highest n_events (monotone)
        final = {}
        for r in rows:
            if r["user_id"] not in final or r["n_events"] > final[r["user_id"]]["n_events"]:
                final[r["user_id"]] = r
        return final

    got = drain(user_profiles_reordered, "t_reorder")
    u1 = got[1]
    assert (u1["n_events"], u1["sum_value"], u1["max_gap_s"]) == (3, 6.0, 1800)
    assert u1["n_buffered"] == 0  # the timer drained the buffer
    # heartbeat user: its lone event sits inside the final lateness
    # window — correctly still buffered, nothing finalized
    assert got[99]["n_events"] == 0 and got[99]["n_buffered"] == 1

    # the sequential operator on the SAME disordered feed under-counts:
    # it folds 10:10 after 10:40 (regressed last_ts) => max_gap 2400
    seq = drain(user_profiles, "t_reorder_seq")
    assert seq[1]["max_gap_s"] == 2400


def test_reorder_buffer_is_delivery_order_invariant(spark, tmp_path):
    """Any delivery order of the same events within the watermark bound
    must yield byte-identical final profiles — the reorder buffer's
    whole contract. Two shuffled multi-batch feeds, one truth."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reddit_big_data_spark.streaming.stateful import user_profiles_reordered
    from reddit_big_data_spark.streaming.windows import (
        EVENTS_RAW_SCHEMA,
        run_to_memory_sink,
    )

    def ns(m):
        return int(pd.Timestamp(2024, 1, 1, 10, m).value)

    # two users, interleaved gaps; all within the 1 h bound of the max ts
    ev = [
        (ns(0), 1, 1.0), (ns(5), 1, 2.0), (ns(12), 1, 4.0), (ns(30), 1, 8.0),
        (ns(2), 2, 1.0), (ns(20), 2, 2.0), (ns(21), 2, 4.0),
    ]
    orders = [
        [ev[3], ev[0], ev[5], ev[1], ev[6], ev[2], ev[4]],
        [ev[4], ev[6], ev[2], ev[5], ev[0], ev[1], ev[3]],
    ]
    flush = (int(pd.Timestamp(2024, 1, 1, 13, 0).value), 99, 0.0)

    results = []
    for oi, order in enumerate(orders):
        d = tmp_path / f"o{oi}"
        d.mkdir()
        batches = [order[:3], order[3:5], order[5:], [flush]]
        for bi, rows in enumerate(batches):
            pdf = pd.DataFrame(
                {
                    "event_id": list(range(len(rows))),
                    "ts": [t for t, _, _ in rows],
                    "user_id": [u for _, u, _ in rows],
                    "event_type": ["a"] * len(rows),
                    "value": [v for _, _, v in rows],
                    "props": ["{}"] * len(rows),
                }
            )
            pq.write_table(pa.Table.from_pandas(pdf), str(d / f"b{bi}.parquet"))
        # batch order pinned by EXPLICIT mtimes, not sleeps (round 16 —
        # same mechanism split_events_backlog uses in production): the
        # file source processes oldest-modification-time first, so a
        # 100 s stagger is deterministic and saves ~9 s of wall sleep
        import os as _os

        now = _os.stat(str(d / "b3.parquet")).st_mtime
        for bi in range(len(batches)):
            age = (len(batches) - 1 - bi) * 100
            _os.utime(
                str(d / f"b{bi}.parquet"), (now - age, now - age)
            )
        raw = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        run_to_memory_sink(
            user_profiles_reordered(raw), f"t_reorder_inv_{oi}", mode="update"
        )
        final = {}
        for r in spark.table(f"t_reorder_inv_{oi}").collect():
            if (
                r["user_id"] not in final
                or r["n_events"] > final[r["user_id"]]["n_events"]
            ):
                final[r["user_id"]] = r
        results.append(
            {
                u: (r["n_events"], r["sum_value"], r["max_gap_s"])
                for u, r in final.items()
                if u != 99
            }
        )
    # in-order truth: user 1 gaps 300/420/1080 -> 1080; user 2 gaps
    # 1080/60 -> 1080
    assert results[0] == results[1] == {
        1: (4, 15.0, 1080),
        2: (3, 7.0, 1080),
    }


def test_reorder_buffer_finalizes_event_exactly_at_watermark(spark, tmp_path):
    """Boundary contract (review r15): an event whose timestamp equals
    the final watermark IS finalized (ts <= wm — the same boundary the
    q174 oracle uses), even when it is the key's EARLIEST buffered
    event. Spark's event-time timers fire only when the watermark
    advances strictly PAST the set timestamp, so a timer set AT the
    event's own timestamp never fires once the watermark stops exactly
    on it; the timer must be set one ms earlier."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reddit_big_data_spark.streaming.stateful import user_profiles_reordered
    from reddit_big_data_spark.streaming.windows import (
        EVENTS_RAW_SCHEMA,
        run_to_memory_sink,
    )

    # user 1's single event sits EXACTLY at (max ts - 1 h) = the final
    # watermark; user 2's event only drives the watermark forward
    ev = [
        (int(pd.Timestamp(2024, 1, 1, 10, 0).value), 1, 7.0),
        (int(pd.Timestamp(2024, 1, 1, 11, 0).value), 2, 1.0),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": [t for t, _, _ in ev],
            "user_id": [u for _, u, _ in ev],
            "event_type": ["a", "a"],
            "value": [v for _, _, v in ev],
            "props": ["{}", "{}"],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "b0.parquet"))
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .parquet(str(tmp_path))
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    run_to_memory_sink(
        user_profiles_reordered(raw), "t_reorder_boundary", mode="update"
    )
    final = {}
    for r in spark.table("t_reorder_boundary").collect():
        if (
            r["user_id"] not in final
            or r["n_events"] > final[r["user_id"]]["n_events"]
        ):
            final[r["user_id"]] = r
    # user 1: finalized by the timer batch (ts == final watermark)
    assert (
        final[1]["n_events"],
        final[1]["sum_value"],
        final[1]["n_buffered"],
    ) == (1, 7.0, 0)
    # user 2: inside the final lateness window — correctly still buffered
    assert (final[2]["n_events"], final[2]["n_buffered"]) == (0, 1)


def test_split_events_backlog_is_deterministic_and_ordered(tmp_path):
    """q175's staging contract: the two-file split is a pure function of
    the corpus (byte-identical across calls), covers every non-NULL-ts
    event exactly once, splits at the ms temporal midpoint, and pins
    batch order by mtime (a.parquet strictly older)."""
    import os

    import pandas as pd

    from reddit_big_data_spark.streaming.windows import split_events_backlog

    d1, d2 = tmp_path / "s1", tmp_path / "s2"
    a1, b1 = split_events_backlog(SF_SMOKE, str(d1))
    a2, b2 = split_events_backlog(SF_SMOKE, str(d2))
    for p, q in ((a1, a2), (b1, b2)):
        with open(p, "rb") as f1, open(q, "rb") as f2:
            assert f1.read() == f2.read()
    pa_, pb = pd.read_parquet(a1), pd.read_parquet(b1)
    src = pd.read_parquet(os.path.join(SF_SMOKE, "events.parquet"))
    assert len(pa_) + len(pb) == src["ts"].notna().sum()
    assert len(pa_) > 0 and len(pb) > 0
    assert set(pa_["event_id"]).isdisjoint(set(pb["event_id"]))
    # ts written as raw epoch ns; the midpoint cut separates the halves
    ms = src["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000
    cut = (int(ms.min()) + int(ms.max())) // 2
    assert (pa_["ts"] // 1_000_000).max() <= cut < (pb["ts"] // 1_000_000).min()
    assert os.stat(a1).st_mtime < os.stat(b1).st_mtime


def test_split_events_backlog_rejects_narrow_span(tmp_path):
    """The span <= 2x-lateness guard must raise a NAMED error instead of
    silently producing a split whose second batch finalizes nothing
    (the degenerate case q175's multi-batch claim would not survive)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    corpus = tmp_path / "narrow"
    corpus.mkdir()
    pdf = pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 11:30"]
            ),
            "user_id": [1, 2],
            "event_type": ["a", "a"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(corpus / "events.parquet"))
    with pytest.raises(ValueError, match="2x lateness"):
        split_events_backlog_ = __import__(
            "reddit_big_data_spark.streaming.windows",
            fromlist=["split_events_backlog"],
        ).split_events_backlog
        split_events_backlog_(str(corpus), str(tmp_path / "out"))
