"""q161 corpus-pipeline composition: cross-operator consistency.

The DuckDB oracle replays every stage independently (the registry
mirror covers value equality); these tests pin the CROSS-QUERY
contracts the composition exists to enforce — where a stage's input is
the same set an individual registry query reports on, the counts must
agree exactly."""

from __future__ import annotations

import pytest

from reddit_big_data_spark.registry import all_queries
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def stages(spark):
    rows = (
        all_queries()["q161_corpus_pipeline"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    return {r["stage"]: r for r in rows}


def test_stage_zero_and_quality_match_q76(spark, stages):
    """s0/s1 run on exactly q76's input, so they must equal q76's
    s0_all and s5_repetition (the full-funnel survivor count)."""
    funnel = {
        r["stage"]: r["survivors"]
        for r in all_queries()["q76_quality_funnel"].fn(spark, SF_SMOKE).collect()
    }
    assert stages["s0_all"]["docs"] == funnel["s0_all"]
    assert stages["s1_quality"]["docs"] == funnel["s5_repetition"]


def test_attrition_is_monotone_and_detail_consistent(stages):
    order = [
        "s0_all",
        "s1_quality",
        "s2_exact_dedup",
        "s3_near_dedup",
        "s4_decontaminated",
        "s5_mixture",
    ]
    for prev, cur in zip(order, order[1:]):
        assert stages[cur]["docs"] <= stages[prev]["docs"]
        assert stages[cur]["ws_tokens"] <= stages[prev]["ws_tokens"]
        # detail of a filter stage = docs it dropped
        assert (
            stages[cur]["detail"]
            == stages[prev]["docs"] - stages[cur]["docs"]
        )
    # layout stages do not drop documents
    for name in ("s6_shards", "s7_tokenize", "s8_pack"):
        assert stages[name]["docs"] == stages["s5_mixture"]["docs"]
        assert stages[name]["ws_tokens"] == stages["s5_mixture"]["ws_tokens"]


def test_layout_stage_metrics_are_sane(stages):
    n5 = stages["s5_mixture"]["docs"]
    # shards used: bounded by the 16-shard layout AND the doc count
    assert 0 < stages["s6_shards"]["detail"] <= min(16, n5)
    # BPE merges only ever SHRINK the char-level token count, and every
    # kept doc contributes at least one token at this corpus
    assert stages["s7_tokenize"]["detail"] >= n5
    # bins: at least one per non-empty source group, at most one per doc
    assert 0 < stages["s8_pack"]["detail"] <= n5


def test_failing_near_dup_stage_leaves_no_driver_thread_job(spark, monkeypatch):
    """The winnowing count overlaps s3 construction on a driver thread.
    When the s3 engine raises, the error must propagate only after that
    thread's job has finished (no job left running behind the failed
    query), and the thread target must be bound to the session, so
    Spark does not warn that job tags will not be inherited."""
    import time
    import warnings

    from reddit_big_data_spark.queries import pipeline

    tracker = spark.sparkContext.statusTracker()

    def failing_similarity_join(*args, **kwargs):
        # fail while the overlapped count is running, so a leaked
        # thread would still hold an active job
        deadline = time.monotonic() + 30
        while not tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.01)
        raise RuntimeError("near-dup engine failed")

    monkeypatch.setattr(pipeline, "similarity_join", failing_similarity_join)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(RuntimeError, match="near-dup engine failed"):
            pipeline.q161_corpus_pipeline(spark, SF_SMOKE)
        # job-end events reach the tracker through the listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert tracker.getActiveJobsIds() == []
    assert not [
        w for w in caught if "Tags will not be inherited" in str(w.message)
    ]
