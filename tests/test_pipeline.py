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


def test_banded_mode_equals_exact_mode(spark):
    """VERDICT r10 #3: the composition's BANDED s3 (MinHash-LSH with the
    threshold-matched 32x4 default + exact-Jaccard verify — the 100 TB
    deployment mode, measured exponent 0.98) produces exactly the same
    9-row per-stage report as the EXACT prefix-filter mode (the
    registered/oracle mode, exponent 2.18) at threshold 0.6 on the
    testdata. Verification makes banded precision 1.0, so equality holds
    whenever LSH recall covers every >=0.6 pair; this test pins it
    THROUGH the composition (survivor-subgraph input, canonical keep
    decisions, downstream attrition all identical). NB equality on this
    corpus alone cannot distinguish band configs (its duplicate pairs
    are near-identical, where even 8x8's recall is ~1) — the per-pair
    recall arithmetic at the threshold is pinned separately by
    test_banded_default_band_config_matches_threshold."""
    from reddit_big_data_spark.queries.pipeline import corpus_pipeline

    exact = {
        r["stage"]: (r["docs"], r["ws_tokens"], r["detail"])
        for r in corpus_pipeline(spark, SF_SMOKE, near_dup_mode="exact").collect()
    }
    banded = {
        r["stage"]: (r["docs"], r["ws_tokens"], r["detail"])
        for r in corpus_pipeline(spark, SF_SMOKE, near_dup_mode="banded").collect()
    }
    assert banded == exact


def test_banded_default_band_config_matches_threshold():
    """ADVICE r11: the deployment default's LSH S-curve must be matched
    to the stage's threshold (0.6) — midpoint below the threshold and
    per-pair recall >= 0.98 AT the threshold, i.e. the config must not
    silently raise the operative near-dup threshold the way the old 8x8
    default did (midpoint ~0.77, recall ~13% at j=0.6)."""
    from reddit_big_data_spark.queries.pipeline import (
        _NEARDUP_BANDS as bands,
        _NEARDUP_ROWS as rows,
        _NEARDUP_THRESHOLD as threshold,
    )
    midpoint = (1.0 / bands) ** (1.0 / rows)
    recall_at_t = 1.0 - (1.0 - threshold**rows) ** bands
    assert midpoint < threshold, (bands, rows, midpoint)
    assert recall_at_t >= 0.98, (bands, rows, recall_at_t)
    # and the old default really was broken — keep the counterexample
    assert 1.0 - (1.0 - threshold**8) ** 8 < 0.15


def test_unknown_near_dup_mode_rejected(spark):
    from reddit_big_data_spark.queries.pipeline import corpus_pipeline

    with pytest.raises(ValueError, match="near_dup_mode"):
        corpus_pipeline(spark, SF_SMOKE, near_dup_mode="fuzzy")


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
            pipeline.corpus_pipeline(spark, SF_SMOKE, near_dup_mode="exact")
        # job-end events reach the tracker through the listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert tracker.getActiveJobsIds() == []
    assert not [
        w for w in caught if "Tags will not be inherited" in str(w.message)
    ]


def test_banded_mode_plan_is_scale_clean(spark):
    """The banded composition is not a registered query, so the lint
    sweep in test_plan_lint.py never sees it — lint it here with q161's
    own allowance (the s7 BPE stage's PY_ARROW): the deployment mode
    must clear the same hazard bar as the oracle mode (no cartesian, no
    row-at-a-time UDF, no global window, no interior global sort)."""
    from reddit_big_data_spark.plans.audit import live_file_scans
    from reddit_big_data_spark.plans.lint import lint_plan
    from reddit_big_data_spark.queries.pipeline import corpus_pipeline
    from tests.test_plan_lint import _ALLOW

    df = corpus_pipeline(spark, SF_SMOKE, near_dup_mode="banded")
    allow = set(_ALLOW["q161_corpus_pipeline"])
    findings = [f for f in lint_plan(df, allow) if f.code != "ROOT_SORT"]
    assert not findings, "; ".join(map(str, findings))
    # materialize-once holds in deployment mode too: the report plan
    # reads only the persisted stage caches, zero live corpus scans
    # (same shape the registered exact mode shows in test_scan_audit)
    assert live_file_scans(df) == {}
