"""Mergeable-sketch tests: union of per-day HLL sketches must equal the
single-shot sketch over all rows (merge correctness — the property the
whole pre-aggregation pattern rests on), with bounded error vs exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from reddit_big_data_spark.operators.sketches import (
    daily_sketches,
    distinct_rollup,
    merged_distinct,
)
from reddit_big_data_spark.sources.io import read_table
from tests.conftest import SF_SMOKE


def test_merged_equals_single_shot(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    merged = {
        r["event_type"]: r["approx_nd"]
        for r in merged_distinct(
            daily_sketches(ev, "event_type", "user_id"), "event_type"
        ).collect()
    }
    single = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("nd")
        )
        .collect()
    }
    assert merged == single  # sketch union is lossless wrt one-shot build


def test_rollup_error_bounded(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    rows = distinct_rollup(ev, "event_type", "user_id").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_days"] >= 1
        err = abs(r["approx_nd"] - r["exact_nd"]) / max(r["exact_nd"], 1)
        assert err < 0.02, (r["event_type"], r["approx_nd"], r["exact_nd"])


def test_cms_estimate_never_undercounts_and_is_exact_when_wide(spark):
    """Structural CMS guarantee: est >= exact for every item; with width
    far above the distinct-item count, collisions are absent on this
    fixture and the estimate is exact."""
    from reddit_big_data_spark.operators.sketches import cms_cells, cms_estimate

    rows = [(f"u{i % 7}",) for i in range(100)] + [("hot",)] * 50
    df = spark.createDataFrame(rows, "item: string")
    cells = cms_cells(df, "item", depth=4, width=4096)
    items = df.select("item").distinct()
    est = {r["item"]: r["est_count"] for r in cms_estimate(cells, items, "item", width=4096).collect()}
    exact = {r["item"]: r["cnt"] for r in df.groupBy("item").agg(__import__("pyspark").sql.functions.count("*").alias("cnt")).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    assert est == exact  # wide sketch: no collisions on 8 distinct items


def test_cms_merge_equals_single_shot(spark):
    """Merging per-shard sketches by cell sum must equal the sketch built
    in one shot over the union -- the mergeability contract that makes
    shard/day rollups O(cells), not O(rows)."""
    from pyspark.sql import functions as F

    from reddit_big_data_spark.operators.sketches import cms_cells, cms_merge

    rows = [(i % 3, f"u{i % 11}") for i in range(200)]
    df = spark.createDataFrame(rows, "shard: int, item: string")
    merged = cms_merge(cms_cells(df, "item", shard_col="shard"))
    single = cms_cells(df, "item")
    a = {(r["r"], r["c"]): r["cnt"] for r in merged.collect()}
    b = {(r["r"], r["c"]): r["cnt"] for r in single.collect()}
    assert a == b


def test_cms_overestimates_under_forced_collisions(spark):
    """width=2 forces collisions: estimates must still be >= exact (the
    one-sided error direction is the point of CMS)."""
    from pyspark.sql import functions as F

    from reddit_big_data_spark.operators.sketches import cms_cells, cms_estimate

    rows = [(f"u{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, "item: string")
    cells = cms_cells(df, "item", depth=2, width=2)
    est = cms_estimate(cells, df.select("item").distinct(), "item", depth=2, width=2)
    exact = df.groupBy("item").agg(F.count("*").alias("cnt"))
    joined = est.join(exact, "item").collect()
    assert len(joined) == 50
    assert all(r["est_count"] >= r["cnt"] for r in joined)
    assert any(r["est_count"] > r["cnt"] for r in joined)  # collisions happened


def test_kmv_merge_equals_single_shot(spark):
    """Merging per-day KMV sketches must give the SAME bottom-k (hence the
    same estimates) as one sketch over all data — the mergeability
    property that makes the rollup sound."""
    from pyspark.sql import functions as F

    from reddit_big_data_spark.operators.sketches import (
        kmv_merge_estimate,
        kmv_partials,
    )
    from reddit_big_data_spark.sources.io import read_table
    from tests.conftest import SF_ORACLE

    ev = read_table(spark, SF_ORACLE, "events").withColumn(
        "__day", F.to_date("ts")
    )
    merged = {
        r["event_type"]: (r["est_nd"], r["est_p50"])
        for r in kmv_merge_estimate(
            kmv_partials(ev, "event_type", "__day", "value", k=128),
            "event_type",
            k=128,
        ).collect()
    }
    single = {
        r["event_type"]: (r["est_nd"], r["est_p50"])
        for r in kmv_merge_estimate(
            kmv_partials(
                ev.withColumn("__one", F.lit(1)), "event_type", "__one", "value", k=128
            ),
            "event_type",
            k=128,
        ).collect()
    }
    assert merged == single and len(merged) > 0


def test_kmv_estimates_within_bounds(spark):
    """KMV relative error is ~1/sqrt(k-1); assert a generous 4-sigma band
    for the distinct estimate and a sample-noise band for the median.
    (Runs the operators directly — q88 itself now projects only the
    boolean bound checks, whose truth this test pins numerically.)"""
    from reddit_big_data_spark.operators.sketches import (
        kmv_merge_estimate,
        kmv_partials,
    )
    from reddit_big_data_spark.sources.io import read_table
    from tests.conftest import SF_ORACLE

    ev = read_table(spark, SF_ORACLE, "events").withColumn(
        "__day", F.to_date("ts")
    )
    est = kmv_merge_estimate(
        kmv_partials(ev, "event_type", "__day", "value", k=256),
        "event_type",
        k=256,
    )
    exact = (
        ev.select("event_type", "value")
        .distinct()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("exact_nd"),
            F.expr("percentile(value, 0.5)").alias("exact_p50"),
        )
    )
    rows = est.join(exact, "event_type").collect()
    assert rows
    for r in rows:
        rel = abs(r["est_nd"] - r["exact_nd"]) / r["exact_nd"]
        assert rel < 4.0 / (256 - 1) ** 0.5, (r["event_type"], rel)
        # median of a ~256-point uniform sample of the distinct values:
        # quantile error ~ 4 * 0.5/sqrt(k) of the value RANGE
        assert abs(r["est_p50"] - r["exact_p50"]) < 0.125 * (
            r["exact_p50"] * 2
        ), r


# ---------------------------------------------------------------------------
# KLL (operators/sketches.py kll_quantiles, q97): rank-error bounds +
# mergeability. The test names keep q97's registered name.
# ---------------------------------------------------------------------------

# Spark's default KLL k: every input below is larger, so both sketch
# levels compact (and compaction is where KLL's randomised error lives).
_KLL_K = 200
_KLL_QS = (0.01, 0.1, 0.5, 0.9, 0.99)


def _kll_inputs(seed):
    """Uniform, heavy-tailed and TIED (discrete) data, 20k rows each."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return {
        "uniform": rng.uniform(0, 100, 20000),
        "lognormal": rng.lognormal(0, 2, 20000),
        "tied": rng.randint(0, 50, 20000).astype(float),
    }


def _kll_estimates(spark, data, n_parts):
    """kll_quantiles over each input split into `n_parts` contiguous
    parts: {dist: {q: estimate}}."""
    import numpy as np
    import pandas as pd

    from reddit_big_data_spark.operators.sketches import kll_quantiles

    pdf = pd.concat(
        pd.DataFrame({"dist": name, "part": i, "v": chunk})
        for name, d in data.items()
        for i, chunk in enumerate(np.array_split(d, n_parts))
    )
    assert len(pdf) // (len(data) * n_parts) > _KLL_K  # every sketch compacts
    rows = kll_quantiles(
        spark.createDataFrame(pdf), "dist", "part", "v", list(_KLL_QS)
    ).collect()
    return {
        r["dist"]: {q: r[f"est_q{int(round(q * 100)):02d}"] for q in _KLL_QS}
        for r in rows
    }


def _assert_rank_within(data, est, q, tol=0.02):
    """Tie-aware rank bound: the estimate's rank interval
    [mean(data < est), mean(data <= est)] reaches within `tol` of q."""
    assert (data < est).mean() <= q + tol, (q, est, (data < est).mean())
    assert (data <= est).mean() >= q - tol, (q, est, (data <= est).mean())


def test_tdigest_rank_error_bounded(spark):
    """One sketch per input: for uniform, heavy-tailed and TIED data,
    every estimated quantile's realized rank stays within 2pp of the
    target (KLL k = 200: ~1.3% rank error at 99% confidence)."""
    data = _kll_inputs(7)
    est = _kll_estimates(spark, data, n_parts=1)
    assert set(est) == set(data)
    for name, d in data.items():
        for q in _KLL_QS:
            _assert_rank_within(d, est[name][q], q)


def test_tdigest_merge_of_parts_matches_whole(spark):
    """The rollup contract: merging 8 per-part sketches must estimate
    like a single whole-data sketch — both within 2pp rank error of the
    whole data's truth."""
    data = _kll_inputs(11)
    whole = _kll_estimates(spark, data, n_parts=1)
    merged = _kll_estimates(spark, data, n_parts=8)
    for name, d in data.items():
        for q in _KLL_QS:
            _assert_rank_within(d, whole[name][q], q)
            _assert_rank_within(d, merged[name][q], q)


def test_tdigest_spark_rollup_matches_exact(spark):
    """End-to-end Spark path: per-(key, day) partials merged per key must
    land within a 5pp rank band of the exact percentiles (the q97
    contract), for every key."""
    from reddit_big_data_spark.operators.sketches import kll_quantiles
    from reddit_big_data_spark.sources.io import read_table
    from tests.conftest import SF_ORACLE

    ev = read_table(spark, SF_ORACLE, "events").withColumn(
        "__day", F.to_date("ts")
    )
    est = kll_quantiles(
        ev, "event_type", "__day", "value", quantiles=[0.1, 0.5, 0.9]
    )
    exact = ev.groupBy("event_type").agg(
        *[
            F.expr(f"percentile(value, {q})").alias(f"p{int(q*100):02d}")
            for q in (0.05, 0.15, 0.45, 0.55, 0.85, 0.95)
        ]
    )
    rows = est.join(exact, "event_type").collect()
    assert rows
    for r in rows:
        assert r["p05"] <= r["est_q10"] <= r["p15"], r
        assert r["p45"] <= r["est_q50"] <= r["p55"], r
        assert r["p85"] <= r["est_q90"] <= r["p95"], r


def test_kmv_overlap_empty_group_fails_loudly(spark):
    """ADVICE r6: an empty group must not yield a silent estimate row
    that flows into downstream math. q122's Theta overlap estimate
    (the test keeps q122's registered name) raises inside every output
    column (un-prunable), matching sample_train_matrix's loud contract."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from reddit_big_data_spark.operators.sketches import theta_overlap_estimate

    df = spark.createDataFrame(
        [("a", i) for i in range(50)], "g: string, v: long"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        theta_overlap_estimate(df, "g", "v", "a", "nope").collect()
    assert "empty group" in str(ei.value)
    # review r7: the guard must survive COLUMN PRUNING — projecting only
    # est_jaccard used to bypass the est_union-only guard silently
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei2:
        theta_overlap_estimate(df, "g", "v", "a", "nope").select(
            "est_jaccard"
        ).collect()
    assert "empty group" in str(ei2.value)
    # sanity: both groups present still estimates fine
    df2 = df.union(
        spark.createDataFrame([("b", i) for i in range(25, 75)], "g: string, v: long")
    )
    row = theta_overlap_estimate(df2, "g", "v", "a", "b").collect()[0]
    assert row["est_union"] is not None and row["est_union"] > 0
    # 75 distinct values sit far below the sketch's nominal size: exact
    assert (row["est_union"], row["est_inter"], row["est_jaccard"]) == (
        75.0,
        25.0,
        25.0 / 75.0,
    )


def test_bitmap_partials_merge_exactly_and_stay_bounded(spark):
    """The bitmap rollup's two contracts: (1) OR-merging per-day partials
    gives EXACTLY the distinct count of the union (no estimator error,
    including ids duplicated across days and ids 32768 apart that share
    a bit position in different buckets); (2) a partial blob never
    exceeds the fixed 4 KiB bucket width regardless of row count."""
    import datetime as dt

    from pyspark.sql import functions as F

    from reddit_big_data_spark.operators.sketches import (
        bitmap_daily_partials,
        bitmap_distinct_rollup,
    )

    d1, d2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    # day 1: ids 0..999 twice (duplicates); day 2: 500..1499 (overlap
    # with day 1) plus 32768+500 (same bit position as 500, other bucket)
    rows = (
        [("k", d1, i) for i in range(1000)]
        + [("k", d1, i) for i in range(1000)]
        + [("k", d2, i) for i in range(500, 1500)]
        + [("k", d2, 32768 + 500)]
    )
    df = spark.createDataFrame(rows, "g string, ts timestamp, id long")
    partials = bitmap_daily_partials(df, "g", "id")
    out = bitmap_distinct_rollup(partials, "g").collect()[0]
    assert out["nd"] == 1501  # 0..1499 plus 33268 — exact across buckets
    assert out["n_days"] == 2
    assert out["max_daily_nd"] == 1001  # day 2: 1000 ids + the far bucket
    sizes = partials.select(F.octet_length("bm").alias("n")).collect()
    assert all(r["n"] <= 4096 for r in sizes)
