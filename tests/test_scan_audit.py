"""Multi-consumer recompute guard (round 9): every registered batch
query's LIVE parquet-scan counts are pinned — a new consumer of an
unpersisted expensive subtree (the q111/q38/q49/q66 class this round's
sweep caught) fails here instead of silently doubling a query's cost.

Default allowance is TWO live scans per table (a main pass plus one
scalar/dim side pass). Queries legitimately above it declare the excess
with the reason — every entry is a deliberate multi-pass algorithm over
a cheap pruned scan, not a recompute bug. The per-query sweep itself
runs from tests/test_plan_lint.py (round 14 — see
scan_allowance_violations below); this file keeps the allowances and
the audit's mechanism tests."""

from __future__ import annotations

from reddit_big_data_spark.plans.audit import live_file_scans
from reddit_big_data_spark.registry import all_queries
from tests.conftest import SF_SMOKE

# query -> table -> (max live scans, reason)
_ALLOW: dict[str, dict[str, tuple[int, str]]] = {
    "q13_set_ops": {
        "customer": (6, "the §2.7 set-ops surface itself: six branch "
                        "scans of the cheap customer dim feed the "
                        "union/intersect/except lattice under demo"),
    },
    "q16_distinct_percentiles": {
        "lineitem": (3, "exact multi-statistic passes (distinct + exact "
                        "percentiles) each need their own full-column "
                        "aggregate over a single-column pruned scan"),
    },
    "q22_approx_distinct_percentiles": {
        "lineitem": (3, "the query REPORTS the approx-vs-exact error "
                        "bound, so it computes both sides — the "
                        "comparison is the point"),
    },
    "q90_mad_outliers": {
        "lineitem": (3, "nested exact medians: median, MAD around it, "
                        "then the outlier filter — inherently three "
                        "passes over a pruned scan"),
    },
    "q92_gap_fill": {
        "events": (3, "bounds scalar + distinct-keys dim + fact join "
                      "build the dense grid from three pruned scans"),
    },
    "q110_constraint_audit": {
        "orders": (4, "independent constraint rules, each a pruned scan "
                      "of the audited table"),
    },
    "q122_kmv_overlap": {
        "orders": (5, "one two-group sketch scan plus the four "
                      "exact-count verification branches"),
    },
    "q44_cosine_neardup": {
        "embeddings": (3, "probe broadcast + corpus + exact-verify "
                          "branches over the small embeddings table"),
    },
    "q102_pq_ann": {
        "embeddings": (3, "probe batch + code scan + exact-recall "
                          "branch over the small embeddings table"),
    },
    "q104_ivfpq_ann": {
        "embeddings": (3, "same surface as q102: probe batch + coarse-"
                          "cell/code scan + exact-recall branch (the "
                          "r10 JVM-tree walker made the third branch "
                          "visible; the text walker had misattributed "
                          "it to a cached rendering)"),
    },
    "q69_cms_heavy_hitters": {
        "events": (4, "CMS shard build + exact heavy-hitter verify + "
                      "total-count scalar"),
    },
}
_DEFAULT_MAX = 2


def scan_allowance_violations(name: str, df) -> dict[str, int]:
    """{table: live scans} entries exceeding the query's allowance.

    PER-QUERY SWEEP LOCATION (round 14): the all-registered-queries
    audit runs inside tests/test_plan_lint.py's per-query plan check —
    both are plan-only walks of the same DataFrame, and building every
    query's plan twice cost ~40% of both files' runtime (VERDICT r13
    #4's wall-time budget). The allowances, their reasons, and the
    audit's mechanism tests stay HERE. Streaming queries are exempt
    (their scans live behind readStream, not file sources)."""
    if "streaming" in name:
        return {}
    allow = _ALLOW.get(name, {})
    return {
        t: n
        for t, n in live_file_scans(df).items()
        if n > allow.get(t, (_DEFAULT_MAX, ""))[0]
    }


def test_allowlist_names_are_registered():
    """A renamed/retired query must not leave a stale allowance row."""
    registered = set(all_queries())
    stale = [n for n in _ALLOW if n not in registered]
    assert not stale, f"_ALLOW entries for unregistered queries: {stale}"


def test_audit_counts_subquery_scans_once_each(spark):
    """ADVICE r9 regression guard: (a) a scalar subquery's scan is LIVE
    work and must be counted — the old first-marker truncation could
    drop main-plan scans printed after a nested '== Initial Plan =='
    marker; (b) ONE logical subquery referenced from both the Filter and
    the FileScan it was pushed into counts ONCE, while two DIFFERENT
    subqueries on the same table count separately."""
    from reddit_big_data_spark.sources.io import read_table

    orders = read_table(spark, SF_SMOKE, "orders")
    orders.createOrReplaceTempView("_audit_orders")
    one_sub = spark.sql(
        "SELECT count(*) AS n FROM _audit_orders "
        "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM _audit_orders)"
    )
    assert live_file_scans(one_sub).get("orders", 0) == 2
    two_subs = spark.sql(
        "SELECT count(*) AS n FROM _audit_orders "
        "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM _audit_orders) "
        "AND o_totalprice < (SELECT max(o_totalprice) FROM _audit_orders)"
    )
    assert live_file_scans(two_subs).get("orders", 0) == 3


def test_audit_sees_through_cached_relations(spark):
    """The walker's own contract: a persisted frame consumed twice must
    count ONE live scan path, not the repeated InMemoryRelation
    rendering (the overcounting bug the first walker version had)."""
    import pyspark.sql.functions as F

    from reddit_big_data_spark.sources.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    # uncached FIRST: persist() registers the PLAN in the cache manager,
    # so any same-plan frame built afterwards resolves to the cache too
    uncached = docs.groupBy("lang").count().join(
        docs.select("lang").distinct(), "lang"
    )
    assert live_file_scans(uncached).get("documents", 0) >= 2
    cached = docs.persist()
    try:
        two_consumers = cached.groupBy("lang").count().join(
            cached.select("lang").distinct(), "lang"
        )
        assert live_file_scans(two_consumers).get("documents", 0) == 0
    finally:
        cached.unpersist()
