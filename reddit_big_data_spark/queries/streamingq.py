"""Registry-facing Structured Streaming queries (§2.12).

The streaming surface has been tests-only since round 2
(tests/test_streaming*.py prove stream == batch for windows, session
windows, dedup, joins, sinks, and TWS state). q131 promotes the
cornerstone equivalence into the ORACLE-CHECKED registry: the query
EXECUTES the real streaming path — file-source readStream over the
events table, watermarked tumbling-window aggregate, availableNow drain
into a memory sink — and returns the drained result in q51's exact
output shape. The DuckDB oracle is therefore q51's oracle verbatim:
the streaming execution must produce the identical rows the batch
engine (and the oracle) computes, which is precisely Structured
Streaming's unified-model promise.

Scale posture: the same code ships to production by swapping the
memory sink for parquet/kafka + a checkpoint location
(streaming/sinks.py); the availableNow trigger processes the backlog
in bounded batches (maxFilesPerTrigger), so a 100 TB catch-up run is
a sequence of window-partial merges, never one giant batch. The
memory sink here is the test/dev drain and holds only the aggregated
window rows (|windows| x |event types|), never raw events.

DETERMINISM SCOPE of the watermark-STATEFUL queries (q132 dedup, q134
stream-stream join; review r7): their stream == batch equivalence holds
for a backlog drained in ONE micro-batch — the watermark only advances
BETWEEN batches, so a single-batch drain can never late-drop a row.
With the testdata's single events file and maxFilesPerTrigger=1 that is
guaranteed, and _assert_single_backlog_file makes the precondition LOUD
instead of silent: a multi-file events directory would drain in several
batches, the watermark after batch 1 would advance to max(ts) - delay,
and genuinely-late rows in later batches would be dropped — which is
the CORRECT streaming semantics for late data, but not something a
batch SQL oracle can replay. q131 (complete-mode agg re-emits all
windows at the final trigger) and q133 (stateless join) are equivalent
under any batch split.
"""

from __future__ import annotations

import contextlib as _contextlib
import glob as _glob
import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_big_data_spark.registry import register


@_contextlib.contextmanager
def _stateful_drain_conf(spark: SparkSession, cap: int = 8):
    """Bound spark.sql.shuffle.partitions for the availableNow DRAINS
    (VERDICT r7 #8). A streaming stateful operator allocates one state
    store per shuffle partition regardless of data volume — AQE never
    re-plans streaming queries, so unlike every batch query in this
    package the partition count is paid in full. On a bench-scale backlog
    (hundreds of rows) 32 stores x up-to-2 stateful operators is pure
    fixed cost (~1s/store-set of setup, measured r7 on q134); min(session
    cores, 8) keeps the drain parallel while shedding that overhead —
    the session's defaultParallelism, not the host's CPU count, which a
    local[N] session can be far below. PRODUCTION
    KEEPS THE SESSION DEFAULT: at real backlog sizes the state stores are
    the parallelism, and this context restores the previous value before
    the post-drain batch aggregation plans. Correctness is unaffected —
    the partition count only shards state by key hash.

    `cap` tightens the bound for drains that pay the per-store overhead
    MORE than once: q146's sentinel staging makes its drain three
    micro-batches (real data, watermark advancer, no-data flush), so
    every extra store costs three setup/commit rounds, not one
    (measured r9: 8 stores 7.4s -> 4 stores 4.1s on the identical
    drain). The same production caveat applies — this is bench/dev
    drain scoping only."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set(key, str(min(int(prev), cores, cap)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _assert_single_backlog_file(sf_dir: str) -> None:
    """Precondition for the watermark-stateful oracle equivalences (see
    module docstring): the events backlog must be ONE file so the
    availableNow drain is one micro-batch. Raises instead of letting a
    multi-batch drain surface as a confusing oracle value mismatch."""
    files = _glob.glob(_os.path.join(sf_dir, "events.parquet"))
    if len(files) != 1 or not _os.path.isfile(files[0]):
        raise ValueError(
            f"{sf_dir}/events.parquet must be exactly one parquet FILE "
            f"(found {files!r}): the q132/q134 oracle equivalence is "
            "scoped to a single-micro-batch drain (watermarks advance "
            "between batches and would late-drop rows of a multi-file "
            "backlog — correct streaming semantics, but not "
            "batch-oracle-replayable)"
        )


@register(
    "q131_streaming_windowed_counts",
    oracle="""
    -- q51's oracle plus the NULL-event-time contract: a watermarked
    -- streaming agg DROPS rows whose event time is NULL (they cannot be
    -- compared to the watermark) while batch SQL would keep a NULL
    -- bucket — both engines exclude them explicitly (review r7 class;
    -- the testdata has no NULL ts, but the contract must not depend on
    -- that). window_start as epoch seconds for resolution-stable
    -- hash-compare, see q51.
    SELECT CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="STREAMING tumbling-window counts (readStream -> watermark -> "
    "window agg -> availableNow memory drain) == q51's batch/oracle rows",
)
def q131_streaming_windowed_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from reddit_big_data_spark.streaming.windows import (
        run_to_memory_sink,
        stream_events,
        windowed_counts,
    )

    # NULL event times dropped explicitly on BOTH engines (the
    # watermarked agg would drop them implicitly; the oracle filters)
    ev = stream_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = windowed_counts(ev, window="6 hours", watermark="1 hour")
    # complete output mode: every window is (re)emitted at the final
    # trigger, so the drained table equals the batch aggregate exactly —
    # the watermark only bounds state in continuous operation.
    with _stateful_drain_conf(spark):
        run_to_memory_sink(agg, "q131_sink", mode="complete")
    return (
        spark.table("q131_sink")
        .select(
            F.unix_timestamp("window_start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "q132_streaming_dedup",
    oracle="""
    -- COUNT(DISTINCT user_id) ignores NULLs; the Spark side filters
    -- NULL keys before dedup so both engines count the same key set
    -- (review r7 — the testdata has no NULL user_id today, but the
    -- contract must not depend on that).
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    doc="STREAMING exact dedup (dropDuplicatesWithinWatermark on "
    "(user_id, event_type)) drained and aggregated == batch COUNT "
    "DISTINCT per type",
)
def q132_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the LLM-pipeline exact-dedup path (q30), in the
    oracle-checked registry: dropDuplicatesWithinWatermark keeps ONE
    arrival per (user_id, event_type) with state bounded by the
    watermark, the memory sink drains the surviving rows (append mode —
    dedup rows emit as they arrive), and the RETURNED frame aggregates
    the drained table batch-side. Aggregating after the drain keeps the
    output deterministic: WHICH physical row survives a key is
    partition-order dependent, but the surviving KEY SET is exact, so
    per-type key counts equal the batch COUNT(DISTINCT). The streaming
    query itself stays single-stateful-operator (dedup only) — no
    chained stateful restrictions in play. NULL user_id rows are
    filtered before dedup: the oracle's COUNT(DISTINCT) ignores NULLs
    while dropDuplicates would keep a NULL-keyed row per type (review
    r7). Determinism scope: single-micro-batch drain — see the module
    docstring and _assert_single_backlog_file."""
    from reddit_big_data_spark.streaming.windows import (
        dedup_stream,
        run_to_memory_sink,
        stream_events,
    )

    _assert_single_backlog_file(sf_dir)
    # NULL keys: the oracle's COUNT(DISTINCT) ignores them. NULL event
    # times: the watermarked dedup drops them implicitly — both
    # exclusions are explicit on both engines (review r7 class).
    ev = stream_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    dd = dedup_stream(ev, keys=["user_id", "event_type"], watermark="1 hour")
    with _stateful_drain_conf(spark):
        run_to_memory_sink(dd, "q132_sink", mode="append")
    return (
        spark.table("q132_sink")
        .groupBy("event_type")
        .agg(F.count("*").alias("distinct_users"))
        .orderBy("event_type")
    )


@register(
    "q133_streaming_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1 ORDER BY 1
    """,
    doc="STREAMING stream-static enrich (events x broadcast customer "
    "dim) drained and aggregated == the batch join",
)
def q133_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment in the oracle-checked
    registry: the events stream inner-joins the (batch-read, broadcast)
    customer dim on user_id = c_custkey inside the streaming query — the
    streaming twin of the batch J1/J2 broadcast dim joins — then the
    drained rows aggregate per market segment batch-side. The join is
    STATELESS (static right side re-resolved per micro-batch), so every
    matched row emits exactly once and the drained set equals the batch
    join deterministically; only the aggregate needs the batch-side
    float-rounding discipline (q51's ROUND convention)."""
    from reddit_big_data_spark.sources.io import read_table
    from reddit_big_data_spark.streaming.joins import enrich_stream
    from reddit_big_data_spark.streaming.windows import (
        run_to_memory_sink,
        stream_events,
    )

    ev = stream_events(spark, sf_dir)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = enrich_stream(ev, dim, "user_id", how="inner").select(
        "event_type", "value", "c_mktsegment"
    )
    with _stateful_drain_conf(spark):
        run_to_memory_sink(enriched, "q133_sink", mode="append")
    return (
        spark.table("q133_sink")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("segment")
    )


@register(
    "q134_streaming_attribution",
    oracle="""
    -- timestamps compared/emitted as epoch MICROS on both engines:
    -- Spark's reader truncates the file's encoding to micros, DuckDB's
    -- epoch_us is the exact integer twin — no sub-micro ambiguity at
    -- the interval boundaries.
    SELECT a.user_id,
           CAST(epoch_us(a.ts) AS BIGINT) AS click_us,
           CAST(epoch_us(b.ts) AS BIGINT) AS purchase_us,
           ROUND(b.value, 4) AS purchase_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    ORDER BY 1, 2, 3
    """,
    doc="STREAMING stream-stream interval join (click->purchase "
    "attribution within 30 min) drained == the batch interval join",
)
def q134_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth streaming pillar — the stream-STREAM interval join
    (canonical click-attribution shape): clicks and purchases are two
    filtered views of the events stream, joined on user_id with the
    purchase time-bounded to [click_ts, click_ts + 30 min]. Both sides
    carry watermarks, so each state store holds only rows inside the
    watermark + interval horizon (streaming/joins.py — without the time
    bound Spark rejects the plan as unbounded-state). Inner stream-
    stream joins emit matches eagerly as both sides arrive, so the
    availableNow drain holds exactly the batch interval-join row set;
    the oracle is that batch join verbatim, at micro-second resolution
    on both engines. Determinism scope: single-micro-batch drain (both
    sides of a multi-batch backlog could lose genuinely-late pairs to
    the watermark — correct streaming semantics, not oracle-replayable);
    see the module docstring and _assert_single_backlog_file."""
    from reddit_big_data_spark.streaming.joins import interval_join_streams
    from reddit_big_data_spark.streaming.windows import (
        run_to_memory_sink,
        stream_events,
    )

    _assert_single_backlog_file(sf_dir)
    ev = stream_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = interval_join_streams(
        clicks,
        purchases,
        key="user_id",
        max_delay="30 minutes",
        watermark="1 hour",
    ).select(
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("r_ts").alias("purchase_us"),
        F.round("r_value", 4).alias("purchase_value"),
    )
    with _stateful_drain_conf(spark):
        run_to_memory_sink(joined, "q134_sink", mode="append")
    return spark.table("q134_sink").orderBy(
        "user_id", "click_us", "purchase_us"
    )


@register(
    "q135_streaming_sketch_rollup",
    oracle="""
    -- q59's oracle verbatim: the estimate is checked by the
    -- guarantee boolean, exact counts anchor the row.
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_nd,
           TRUE AS nd_within_bound
    FROM events WHERE ts IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="STREAMING HLL sketch ingest (level 1) + batch-side level-2 "
    "hll_union_agg rollup == q59's two-level distinct rollup",
)
def q135_streaming_sketch_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB two-level rollup story with the level-1 ingest as a
    REAL stream: hll_sketch_agg maintains one fixed-size mergeable
    sketch blob per (event_type, day) of streaming state, the complete-
    mode drain materializes the level-1 blobs, and level 2 merges them
    with hll_union_agg batch-side — never re-reading raw rows (the
    whole point: at scale level 2 runs over |days| x |types| blobs, not
    the corpus). Deterministic under any batch split: HLL registers are
    MAXes (order-independent) and complete mode re-emits every group at
    the final trigger, so the drained blobs — and therefore the level-2
    estimate — equal the batch build exactly. Oracle = q59's (exact
    anchors + the 5%-bound guarantee boolean the estimate must pass)."""
    from reddit_big_data_spark.sources.io import read_table
    from reddit_big_data_spark.streaming.windows import (
        run_to_memory_sink,
        stream_events,
        streaming_daily_sketches,
    )

    # the report is scoped to rows WITH a timestamp on both engines (a
    # NULL day would form a group batch-side that the oracle's COUNT
    # DISTINCT ignores — review r7 class)
    ev = stream_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    with _stateful_drain_conf(spark):
        run_to_memory_sink(
            streaming_daily_sketches(ev), "q135_sink", mode="complete"
        )
    lvl2 = (
        spark.table("q135_sink")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "__approx_nd"
            ),
        )
    )
    exact = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_nd"))
    )
    return (
        lvl2.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_nd",
            (
                F.abs(F.col("__approx_nd") - F.col("exact_nd"))
                <= 0.05 * F.col("exact_nd")
            ).alias("nd_within_bound"),
        )
        .orderBy("event_type")
    )


@register(
    "q136_streaming_sessions",
    oracle="""
    -- q53's gaps-and-islands oracle with the streaming NULL-event-time
    -- contract made explicit (q131's convention; the testdata has no
    -- NULL ts, but the contract must not depend on that). The boundary
    -- rule is IDENTICAL on both engines: F.session_window starts a new
    -- session only when ts > prev_ts + gap (an event exactly `gap`
    -- after the previous one MERGES — pinned empirically by
    -- tests/test_streaming.py::test_session_window_boundary_semantics),
    -- which is this oracle's `ts > lag(ts) + INTERVAL 30 MINUTE` flag.
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             SUM(value) AS sess_value,
             date_diff('second', MIN(ts), MAX(ts)) AS dur_s
      FROM sess GROUP BY 1, 2
    )
    SELECT n_events,
           COUNT(*) AS n_sessions,
           ROUND(AVG(sess_value), 4) AS avg_value,
           ROUND(AVG(dur_s), 4) AS avg_duration_s
    FROM per_session
    GROUP BY n_events
    ORDER BY n_events
    """,
    doc="STREAMING session windows (F.session_window drain) == q53's "
    "batch gaps-and-islands sessionization, as the session-size histogram",
)
def q136_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sixth streaming pillar (VERDICT r7 #2), tests-only since r2:
    per-user SESSION windows computed by the real streaming path —
    readStream -> watermark -> F.session_window aggregate -> availableNow
    drain — then folded into q53's session-size histogram batch-side, so
    the drain is pinned to the batch sessionization oracle verbatim.

    Equivalence argument: complete output mode re-emits every session at
    the final trigger (the watermark only bounds state in continuous
    operation), and session MERGING is order-independent — a session's
    extent is determined by the set of its event times, not arrival
    order — so the drained (user, session) rows equal the batch
    gaps-and-islands islands exactly, including at the exact-gap
    boundary (see the oracle comment). Session sums stay UNROUNDED
    through the drain (round_to=None) because this query averages them
    afterwards; rounding happens once, at the report edge, exactly where
    the oracle rounds.

    Scale shape: session state is keyed by (user, session window) and
    merges in the state store; the histogram fold after the drain touches
    |sessions| rows, never raw events. Duration derives from the drained
    window bounds: session_window's end is last_ts + gap, so
    dur_s = unix(end) - unix(start) - gap_seconds (floor-second diffs on
    both engines: +30min preserves sub-second digits, so
    floor(end) - 1800 == floor(max_ts))."""
    from reddit_big_data_spark.streaming.windows import (
        run_to_memory_sink,
        session_window_counts,
        stream_events,
    )

    ev = stream_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    sw = session_window_counts(
        ev, gap="30 minutes", watermark="1 hour", round_to=None
    )
    with _stateful_drain_conf(spark):
        run_to_memory_sink(sw, "q136_sink", mode="complete")
    per_session = spark.table("q136_sink").select(
        "n_events",
        "sum_value",
        (
            F.unix_timestamp("session_end")
            - F.lit(1800)
            - F.unix_timestamp("session_start")
        ).alias("dur_s"),
    )
    return (
        per_session.groupBy("n_events")
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("sum_value"), 4).alias("avg_value"),
            F.round(F.avg("dur_s"), 4).alias("avg_duration_s"),
        )
        .orderBy("n_events")
    )


@register(
    "q137_streaming_stateful_profile",
    oracle="""
    -- batch twin of the applyInPandasWithState per-user profile: the
    -- max inter-event gap is a lag-window max; gaps are FLOOR-second
    -- diffs on both engines (the state machine truncates epochs with
    -- int(); date_diff('second') counts second-boundary crossings —
    -- identical for the positive epochs of this data). Rows without an
    -- event time are excluded on both engines (the state machine sorts
    -- by ts; q131's NULL contract).
    WITH g AS (
      SELECT user_id, value,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
                       ts) AS gap_s
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           CAST(COALESCE(MAX(gap_s), 0) AS BIGINT) AS max_gap_s
    FROM g
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="STREAMING arbitrary stateful op (applyInPandasWithState per-user "
    "profile: count / value sum / max inter-event gap) drained == the "
    "batch groupBy + lag-window twin",
)
def q137_streaming_stateful_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The seventh streaming pillar (VERDICT r7 #3): ARBITRARY stateful
    processing in the oracle-checked registry. user_profiles maintains a
    per-user GroupState (event count, value sum, max gap between
    consecutive events in seconds) across micro-batches via
    applyInPandasWithState — the state-machine escape hatch for semantics
    the built-in windowed aggregates can't express — and the availableNow
    drain is compared against the exact batch SQL twin (groupBy + lag
    window).

    Determinism scope: single-micro-batch drain (asserted) — update mode
    emits one profile row per user per batch it appears in, so a
    multi-batch backlog would emit INTERMEDIATE profiles into the sink
    alongside the final ones; within one batch the operator sorts each
    user's rows by event time, so ties and arrival order cannot change
    (n, sum, max_gap).

    Scale shape: state is one fixed-size tuple per user in the state
    store (RocksDB in production), each micro-batch touches only the
    users present in it, and the drained output is |users| rows."""
    from reddit_big_data_spark.streaming.stateful import user_profiles
    from reddit_big_data_spark.streaming.windows import (
        run_to_memory_sink,
        stream_events,
    )

    _assert_single_backlog_file(sf_dir)
    ev = stream_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    with _stateful_drain_conf(spark):
        run_to_memory_sink(user_profiles(ev), "q137_sink", mode="update")
    return (
        spark.table("q137_sink")
        .select(
            "user_id",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
            "max_gap_s",
        )
        .orderBy("user_id")
    )


@register(
    "q139_streaming_idempotent_sink",
    oracle="""
    -- the write-side exactly-once contract: a 4-file backlog drained
    -- TWICE through the foreachBatch batch_id-overwrite parquet sink
    -- (second drain = worst-case full replay with a lost checkpoint)
    -- must still equal the batch table ONCE. q133's ROUND convention
    -- for the float aggregate; SUM(event_id) as an integer checksum so
    -- a duplicated or dropped ROW (not just a miscount) breaks the hash.
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="STREAMING exactly-once foreachBatch parquet sink: multi-batch "
    "availableNow drain + full checkpoint-loss replay into the same "
    "target == the batch table once (batch_id-overwrite idempotence)",
)
def q139_streaming_idempotent_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The write-side exactly-once story (VERDICT r8 #7), promoted from
    tests-only (tests/test_streaming_sinks.py) into the oracle-checked
    registry. The query EXECUTES the production delivery recipe
    end-to-end:

    1. split the events backlog into 4 parquet files and stream them
       with maxFilesPerTrigger=1 — a genuine MULTI-batch availableNow
       drain (4 micro-batches), unlike the single-batch drains of
       q131-q137;
    2. drain through start_idempotent_parquet_sink: foreachBatch writes
       each micro-batch to target/batch_id=N with mode=overwrite;
    3. drain AGAIN with a FRESH checkpoint — the worst-case at-least-
       once replay (checkpoint lost, every batch re-delivered). The
       deterministic batch_id path makes the replay overwrite its own
       previous output instead of appending duplicates;
    4. read the sink back and aggregate per event_type. If idempotence
       broke, every count/checksum doubles and the oracle hash breaks.

    Replay-safety precondition (docstring'd on the sink too): the replay
    must re-batch the backlog the same way, which reusing the source
    options guarantees (1 file per trigger => 4 batches both times; the
    per-batch FILE assignment may permute across runs, but the union of
    overwritten batch dirs is the exact file set either way). In
    production the checkpoint itself pins batching; the fresh-checkpoint
    twin here is strictly harsher.

    Scale shape: the sink is stateless (no state store), each
    micro-batch writes only its own batch_id=N directory (never the
    table root), and readers prune on batch_id as an ordinary partition
    column — a 100 TB catch-up is a sequence of bounded batch writes."""
    import tempfile as _tempfile

    from reddit_big_data_spark.sources.io import read_table
    from reddit_big_data_spark.streaming.sinks import (
        read_sink,
        start_idempotent_parquet_sink,
    )

    with _tempfile.TemporaryDirectory(
        prefix="q139_sink_", ignore_cleanup_errors=True
    ) as work:
        backlog = _os.path.join(work, "backlog")
        target = _os.path.join(work, "target")

        read_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        ).repartition(4).write.parquet(backlog)

        def _drain(ckpt: str) -> None:
            ev = (
                spark.readStream.schema(spark.read.parquet(backlog).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(backlog)
            )
            start_idempotent_parquet_sink(
                ev, target, _os.path.join(work, ckpt)
            ).awaitTermination()

        _drain("ckpt")  # normal delivery
        _drain("ckpt_replay")  # checkpoint lost: full at-least-once replay
        # The per-event_type aggregate (|types| rows) is checkpointed
        # before the scratch dir goes, so the returned frame reads
        # neither the backlog nor the sink and the whole dir is released
        # before this returns, on success and on failure alike.
        return (
            read_sink(spark, target)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("event_id").alias("id_checksum"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .orderBy("event_type")
            .localCheckpoint()
        )


@register(
    "q146_streaming_outer_attribution",
    oracle="""
    -- q134's interval join, LEFT OUTER: every click appears exactly
    -- once per matching purchase, plus one sentinel-padded row when no
    -- purchase followed within 30 minutes. COALESCE keeps the dtypes
    -- NULL-free (BIGINT/DOUBLE) so the driver hash never sees a
    -- nullable-int -> float64 promotion.
    SELECT c.user_id,
           CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
           CAST(COALESCE(epoch_us(p.ts), -1) AS BIGINT) AS purchase_us,
           ROUND(COALESCE(p.value, 0.0), 4) AS purchase_value
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    ORDER BY 1, 2, 3
    """,
    doc="STREAMING stream-stream LEFT OUTER interval join: unmatched "
    "clicks null-pad after watermark flush == the batch left join",
)
def q146_streaming_outer_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The OUTER stream-stream join pillar: q134's click->purchase
    attribution, but every click without a purchase inside 30 minutes
    must ALSO surface (null-padded) — the semantics that make streaming
    funnels possible without a batch backfill.

    Outer emission is watermark-driven, which forces two departures
    from q134's recipe, both pinned by synthetic dual-engine tests in
    tests/test_streaming.py:

    1. **A null-padded row emits only in a batch whose watermark is
       strictly past click_ts + 30 min** — eviction at watermark ==
       horizon would be wrong (a right row AT the watermark could
       still match) — and the watermark only advances BETWEEN
       batches. So the backlog is staged as TWO files drained
       oldest-first (mtimes pinned): the full events table, then one
       sentinel file 2 days past max(ts). Batch 1 ingests the
       sentinel while the watermark still sits inside the real data
       (the min of the two branch maxima — see point 2), flushing
       every pad whose horizon is already under it; the
       trailing NO-DATA batch availableNow runs after a watermark
       advance (noDataMicroBatches, on by default) then executes at
       max(ts) + 2 days > every click's horizon and flushes the
       rest. After that the drained row set equals the batch LEFT
       join exactly (matches emitted eagerly in batch 0; no real row
       is ever late because ALL real data is in batch 0).
    2. **The sentinel rows must SURVIVE both branch filters.** The
       obvious trick — watermark the raw stream upstream of the
       event-type filters so any event type advances event time —
       does NOT work: Catalyst pushes the deterministic
       `event_type = ...` filters below the EventTimeWatermark node
       (empirically: a 'view' sentinel never reaches either watermark
       node, the global watermark sticks at min(max click_ts,
       max purchase_ts), and the one unmatched click AT that
       watermark never null-pads). So each sentinel file carries one
       'click' and one 'purchase' row under reserved user_id -1, each
       branch's own watermark advances, and the post-drain
       `user_id >= 0` guard scrubs the sentinels (including the inner
       match the -1 pair produces with itself) from the result.

    Scale shape: state is the watermark + 30-minute horizon on both
    sides, identical to q134; the sentinel trick is bench scaffolding
    for availableNow drains (a production stream's ongoing traffic IS
    the watermark advancer), and the backlog copy is deleted right
    after the drain (q139's lesson)."""
    import datetime as _dt
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import types as T

    from reddit_big_data_spark.streaming.joins import interval_join_streams
    from reddit_big_data_spark.streaming.windows import (
        _events_raw_schema,
        normalize_event_ts,
        run_to_memory_sink,
    )

    _assert_single_backlog_file(sf_dir)
    with _tempfile.TemporaryDirectory(
        prefix="q146_backlog_", ignore_cleanup_errors=True
    ) as work:
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        raw_schema = _events_raw_schema(spark, sf_dir)
        src_file = _os.path.join(sf_dir, "events.parquet")
        # Flat backlog of two explicitly named part files with pinned
        # ascending mtimes: FileStreamSource drains the initial backlog
        # oldest-mtime-first, and the order is load-bearing (sentinel
        # first would late-drop every real row under the 0s watermark).
        # The WHOLE staging is driver-side file manipulation — a byte
        # copy of the source parquet plus a 2-row pyarrow write — so no
        # Spark job runs before the drain itself.
        backlog = _os.path.join(work, "backlog")
        _os.makedirs(backlog)
        real_dst = _os.path.join(backlog, "00.parquet")
        _shutil.copyfile(src_file, real_dst)
        _os.utime(real_dst, (1_700_000_000,) * 2)
        # Sentinel ts = max(ts) + 2 days, in the file's OWN physical
        # encoding (long nanos or NTZ micros) so the backlog stays
        # schema-uniform. max(ts) comes from the parquet FOOTER
        # statistics — metadata-only, no data scan at any table size —
        # with a Spark aggregate fallback if a writer omitted them.
        meta = _pq.read_metadata(src_file)
        ts_idx = next(
            i
            for i in range(meta.num_columns)
            if meta.schema.column(i).name == "ts"
        )
        rg_stats = [
            meta.row_group(g).column(ts_idx).statistics
            for g in range(meta.num_row_groups)
        ]
        if rg_stats and all(s is not None and s.has_min_max for s in rg_stats):
            raw_max = max(s.max for s in rg_stats)
        else:  # pragma: no cover - stats are present in testdata parquet
            raw_max = (
                spark.read.schema(raw_schema)
                .parquet(src_file)
                .agg(F.max("ts"))
                .first()[0]
            )
        if isinstance(raw_schema["ts"].dataType, T.LongType):
            adv_ts = raw_max + 2 * 86400 * 1_000_000_000
        else:
            adv_ts = raw_max + _dt.timedelta(days=2)
        # One click + one purchase sentinel: the rows must pass BOTH
        # branch filters to advance BOTH watermark nodes (docstring
        # point 2); user_id -1 marks them for the post-drain scrub.
        # Columns are built BY NAME against the file's own arrow schema.
        arrow_schema = _pq.read_schema(src_file)
        sentinel_by_name = {
            "ts": [adv_ts, adv_ts],
            "event_type": ["click", "purchase"],
            "user_id": [-1, -1],
            "value": [0.0, 0.0],
        }
        sent_dst = _os.path.join(backlog, "01.parquet")
        _pq.write_table(
            _pa.table(
                {
                    f.name: _pa.array(
                        sentinel_by_name.get(f.name, [None, None]),
                        type=f.type,
                    )
                    for f in arrow_schema
                },
                schema=arrow_schema.remove_metadata(),
            ),
            sent_dst,
        )
        _os.utime(sent_dst, (1_700_000_010,) * 2)

        stream = normalize_event_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(backlog),
            raw_schema,
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
            watermark="0 seconds",  # real data is one batch; never late
            how="left_outer",
        ).select(
            "user_id",
            F.unix_micros("ts").alias("click_us"),
            F.coalesce(F.unix_micros("r_ts"), F.lit(-1)).alias("purchase_us"),
            F.round(F.coalesce("r_value", F.lit(0.0)), 4).alias(
                "purchase_value"
            ),
        )
        with _stateful_drain_conf(spark, cap=4):
            run_to_memory_sink(joined, "q146_sink", mode="append")
    # The sentinel scrub runs on the DRAINED table, never inside the
    # streaming plan: a deterministic `user_id >= 0` in the stream is
    # pushed by Catalyst through the join and below the watermark nodes
    # into the scan itself, where it removes the sentinels before they
    # can advance event time (the same pushdown trap as docstring
    # point 2, empirically reproduced during development).
    return (
        spark.table("q146_sink")
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "click_us", "purchase_us")
    )


@register(
    "q153_streaming_sliding_windows",
    oracle="""
    -- The sliding twin of q131's oracle: window 6h, slide 2h aligned to
    -- the epoch, so every event lands in EXACTLY window/slide = 3
    -- overlapping windows, with starts floor(epoch/7200)*7200 - k*7200
    -- for k in 0..2 (the k=2 start is still > epoch - 21600, so no
    -- boundary case drops below the window). NULL event times excluded
    -- on both engines (q131's watermark contract).
    SELECT CAST(FLOOR(epoch(ts) / 7200) * 7200 - k.k * 7200 AS BIGINT)
             AS window_start,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    CROSS JOIN (SELECT UNNEST(RANGE(3)) AS k) k
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="STREAMING sliding-window counts (6h window / 2h slide, each "
    "event in 3 overlapping windows) drained == the explicit 3-replica "
    "batch aggregate",
)
def q153_streaming_sliding_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ninth streaming pillar — SLIDING event-time windows, closing
    the window-type triple (q131 tumbling, q136 session). The engine
    replicates each row into window/slide = 3 window buckets before the
    same watermarked aggregate q131 runs; the oracle constructs those
    replicas explicitly (one generate_series(3) cross join), so the
    drain must reproduce the 3x-overlap aggregate row-for-row. Complete
    output mode re-emits every window at the final trigger — the drain
    equals the batch aggregate exactly; in continuous operation the
    watermark expires each window w/slide triggers after it closes.

    Scale shape: state is (|open windows| x |types|) rows — the 3x
    input replication happens inside the aggregate's map side (no extra
    shuffle volume vs tumbling beyond the window-count factor)."""
    from reddit_big_data_spark.streaming.windows import (
        run_to_memory_sink,
        stream_events,
        windowed_counts,
    )

    ev = stream_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = windowed_counts(
        ev, window="6 hours", slide="2 hours", watermark="1 hour"
    )
    with _stateful_drain_conf(spark):
        run_to_memory_sink(agg, "q153_sink", mode="complete")
    return (
        spark.table("q153_sink")
        .select(
            F.unix_timestamp("window_start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "q174_streaming_reordered_profile",
    oracle="""
    -- batch twin of the watermark-bounded reorder buffer: after the
    -- availableNow drain (one data batch + the timer-flush no-data
    -- batch), the FINALIZED set is exactly the events at or below the
    -- final watermark = max event time (ms floor, Spark tracks event
    -- time in ms) minus the 1 h lateness bound; everything newer is
    -- still buffered, counted but not folded. Gaps are the q137
    -- floor-second diffs, restricted to consecutive FINALIZED events.
    WITH b AS (
      SELECT user_id, ts, value,
             epoch_ms(ts) <= (SELECT epoch_ms(MAX(ts))
                              FROM events WHERE ts IS NOT NULL) - 3600000
               AS fin
      FROM events WHERE ts IS NOT NULL
    ),
    g AS (
      SELECT user_id, value, fin,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id, fin ORDER BY ts),
                       ts) AS gap_s
      FROM b
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN fin THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
           ROUND(SUM(CASE WHEN fin THEN value ELSE 0 END), 4) AS sum_value,
           CAST(COALESCE(MAX(CASE WHEN fin THEN gap_s END), 0) AS BIGINT)
             AS max_gap_s,
           CAST(SUM(CASE WHEN fin THEN 0 ELSE 1 END) AS INTEGER) AS n_buffered
    FROM g
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="STREAMING stateful profile with a watermark-bounded reorder "
    "buffer: finalized events == the at-or-below-watermark prefix, "
    "buffered tail counted, drained == the split batch twin",
)
def q174_streaming_reordered_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The tenth streaming pillar (round 15, VERDICT r14 #5): q137's
    per-user profile made EXACT under out-of-order delivery via the
    watermark-bounded reorder buffer (streaming/stateful.py::
    user_profiles_reordered). Events buffer in the per-key state until
    the event-time watermark passes them, then fold in timestamp order;
    event-time timers flush keys that receive no further traffic.

    The drain pins BOTH halves of the contract under the driver hash:
    the finalized profile must equal the batch twin over exactly the
    at-or-below-watermark events (final watermark = ms-floored max
    event time minus the 1 h bound — Spark's EventTimeStats tracks max
    in ms), and the buffered remainder must be counted per user but
    NOT folded. Delivery-order invariance itself (shuffled multi-batch
    feeds converging to one truth) is pinned by
    tests/test_streaming.py::test_reorder_buffer_is_delivery_order_invariant.

    Determinism scope: single-file backlog (asserted) => one data batch
    (watermark 0: everything buffers, emitting the n_events=0 rows the
    final-state extraction below supersedes) + one no-data timer batch
    at the final watermark (n_events grows monotonically, so max-by-
    n_events per user is the final state; a user whose events all sit
    inside the last lateness window keeps its n=0 row — correctly
    still buffered).

    Scale shape: state per user is the fixed profile tuple plus at most
    one lateness-window of buffered (ts, value) pairs — bounded by the
    lateness bound regardless of stream length; each micro-batch
    touches only the users present in it plus fired timers."""
    from pyspark.sql import Window as _W

    from reddit_big_data_spark.streaming.stateful import (
        user_profiles_reordered,
    )
    from reddit_big_data_spark.streaming.windows import (
        run_to_memory_sink,
        stream_events,
    )

    _assert_single_backlog_file(sf_dir)
    ev = stream_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    with _stateful_drain_conf(spark):
        run_to_memory_sink(
            user_profiles_reordered(ev, lateness="1 hour"),
            "q174_sink",
            mode="update",
        )
    # final state per user = the row with the most finalized events
    # (monotone across batches; the timer-batch row supersedes the
    # batch-1 n=0 row, ties impossible except the single-row case).
    # NB the n_buffered ASC tie-break is correct ONLY under this
    # query's asserted single-backlog-file drain (a data batch then a
    # timer batch can never tie on n_events with different buffers);
    # a MULTI-batch drain can tie n_events while the buffer grows, and
    # ascending would resurrect the earlier row — q175, the multi-batch
    # variant, orders n_buffered DESC for exactly that reason (see its
    # extraction comment).
    w = _W.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.asc("n_buffered")
    )
    return (
        spark.table("q174_sink")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
            "max_gap_s",
            "n_buffered",
        )
        .orderBy("user_id")
    )


@register(
    "q175_streaming_reordered_multibatch",
    oracle="""
    -- Identical truth to q174 (the reorder buffer's final state is
    -- delivery-split-invariant — that IS the operator's contract): the
    -- FINALIZED set after the drain is exactly the events at or below
    -- the final watermark = ms-floored max event time minus the 1 h
    -- lateness bound; the newer remainder is counted but not folded.
    -- What q175 adds over q174 is the EXECUTION PATH the hash pins:
    -- a two-file backlog drained at maxFilesPerTrigger=1, so the
    -- watermark ADVANCES BETWEEN data batches and the operator folds
    -- incrementally (pre-existing state, cross-batch gap arithmetic,
    -- mid-stream timer fires) instead of all-at-once.
    WITH b AS (
      SELECT user_id, ts, value,
             epoch_ms(ts) <= (SELECT epoch_ms(MAX(ts))
                              FROM events WHERE ts IS NOT NULL) - 3600000
               AS fin
      FROM events WHERE ts IS NOT NULL
    ),
    g AS (
      SELECT user_id, value, fin,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id, fin ORDER BY ts),
                       ts) AS gap_s
      FROM b
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN fin THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
           ROUND(SUM(CASE WHEN fin THEN value ELSE 0 END), 4) AS sum_value,
           CAST(COALESCE(MAX(CASE WHEN fin THEN gap_s END), 0) AS BIGINT)
             AS max_gap_s,
           CAST(SUM(CASE WHEN fin THEN 0 ELSE 1 END) AS INTEGER) AS n_buffered
    FROM g
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="STREAMING reorder buffer under a MULTI-batch drain (two-file "
    "backlog, maxFilesPerTrigger=1): incremental fold-as-you-go "
    "finalization across an advancing watermark == q174's single-batch "
    "truth, multi-batch shape asserted",
)
def q175_streaming_reordered_multibatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q174's contract driven through the INCREMENTAL path (VERDICT r15
    #2): the events backlog is staged as a deterministic two-file split
    (streaming/windows.py::split_events_backlog — older half / newer
    half by the temporal midpoint, batch order pinned by mtime) and
    drained one file per trigger. Batch 1 buffers the older half under
    watermark 0; batch 2 arrives with the watermark advanced to
    max(older) - 1 h, so the operator folds the finalized prefix WITH
    pre-existing state — cross-batch gap arithmetic via the carried
    last_ts, mid-stream event-time timer fires for keys with no batch-2
    rows — then the trailing no-data batch flushes to the final
    watermark. The final state must equal q174's single-batch truth
    (delivery-split invariance), which the shared oracle pins under the
    driver hash.

    The multi-batch shape is ASSERTED, not assumed: if the drain
    degenerated to one data batch (e.g. maxFilesPerTrigger ignored or
    the split collapsed), every user's sink rows would be n_events=0
    (the buffer-everything batch) then n_events=final (the timer
    flush) — no user would ever show an intermediate 0 < n < max row.
    Incremental finalization produces such rows for every user whose
    older-half prefix finalizes in batch 2, so their absence fails
    loudly instead of letting the single-batch path impersonate this
    query's claim.

    Scale shape: identical to q174 — per-key state is the profile tuple
    plus at most one lateness-window of buffered pairs; the two-file
    staging is test-corpus plumbing (a production backlog is already
    many files)."""
    import tempfile as _tempfile

    from pyspark.sql import Window as _W

    from reddit_big_data_spark.streaming.stateful import (
        user_profiles_reordered,
    )
    from reddit_big_data_spark.streaming.windows import (
        EVENTS_RAW_SCHEMA,
        run_to_memory_sink,
        split_events_backlog,
    )

    with _tempfile.TemporaryDirectory(
        prefix="rbds_q175_backlog_", ignore_cleanup_errors=True
    ) as backlog:
        split_events_backlog(sf_dir, backlog, lateness_ms=3_600_000)
        raw = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(backlog)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        with _stateful_drain_conf(spark):
            run_to_memory_sink(
                user_profiles_reordered(raw, lateness="1 hour"),
                "q175_sink",
                mode="update",
            )
    sink = spark.table("q175_sink")
    # multi-batch proof: at least one user emitted an INTERMEDIATE state
    # (0 < n_events < its final n_events) — impossible in a single-batch
    # drain, guaranteed by batch-2 finalization under the midpoint split.
    w_user = _W.partitionBy("user_id")
    intermediates = (
        sink.withColumn("__mx", F.max("n_events").over(w_user))
        .filter((F.col("n_events") > 0) & (F.col("n_events") < F.col("__mx")))
        .limit(1)
        .count()
    )
    if not intermediates:
        raise ValueError(
            "q175 drain produced no intermediate per-user state rows: the "
            "backlog did not drain as multiple data batches, so this run "
            "never exercised the incremental finalization path it claims"
        )
    # final state per user: n_events is monotone across a user's emitted
    # rows; within the trailing equal-n segment only ARRIVALS happen, so
    # n_buffered is monotone there too — (n desc, buffered desc) is the
    # latest state. (q174 orders buffered ASC: in its single-batch drain
    # the trailing segment is one row, so the tie-break never engages;
    # here batch 1/batch 2 rows CAN tie on n_events=0 with the buffer
    # grown, and ascending would resurrect the batch-1 row.)
    w = _W.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.desc("n_buffered")
    )
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
            "max_gap_s",
            "n_buffered",
        )
        .orderBy("user_id")
    )
