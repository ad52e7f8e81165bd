"""Modern-engine surfaces: the mergeable sketch queries — KMV over
`events` (q88), KLL (q97) and Theta (q122) on Spark's DataSketches
built-ins — and Spark 4 VariantType semi-structured access (q89). Split
from queries/events.py so q88 and q89 sit inside the driver's 50-query
correctness window (registration order == import order,
queries/__init__.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_big_data_spark.registry import register
from reddit_big_data_spark.sources.io import read_table, sorted_report


# --------------------------------------------------------------------------
# q88 — KMV bottom-k sketch rollup: one mergeable sketch per (event_type,
# day) yields BOTH an approximate distinct count of `value` AND an
# approximate median, merged across days without re-scanning raw rows —
# the quantile-capable sibling of q59's HLL rollup.
#
# Oracle contract (VERDICT r4 #2, q31-recall-style): the sketch estimates
# themselves are hash-defined and not SQL-expressible, so the query
# projects the SQL-checkable EXACT values plus booleans asserting the
# estimates landed inside their published error bounds — deterministic
# because xxhash64 has no RNG state. Bounds (k = 256):
#   - nd: |est - exact| <= 0.25 * exact. KMV RSE = 1/sqrt(k-2) ~= 6.3%
#     (Beyer et al., SIGMOD 2007); 0.25 is ~4 sigma. Observed max error on
#     the testdata is 8.1%.
#   - p50: est within the exact p35..p65 of the DISTINCT values (bottom-k
#     by hash uniformly samples distinct values, so the sample-median rank
#     se = 0.5/sqrt(k) ~= 3.1%; the +-15pp band is ~4.8 sigma). Observed
#     worst case sits at the ~53rd percentile.
# Tighter per-run error magnitudes stay pinned in tests/test_sketches.py.
# --------------------------------------------------------------------------
@register(
    "q88_kmv_rollup",
    oracle="""
    WITH dv AS (SELECT DISTINCT event_type, value FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS exact_nd,
           ROUND(quantile_cont(value, 0.5), 4) AS exact_p50_distinct,
           TRUE AS nd_within_bound,
           TRUE AS p50_within_bound
    FROM dv
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="mergeable bottom-k sketch: distinct + quantile estimates per key, "
    "error-bound booleans vs exact (SQL-checkable)",
)
def q88_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.sketches import (
        kmv_merge_estimate,
        kmv_partials,
    )

    ev = read_table(spark, sf_dir, "events").withColumn(
        "__day", F.to_date("ts")
    )
    partials = kmv_partials(ev, "event_type", "__day", "value", k=256)
    est = kmv_merge_estimate(partials, "event_type", k=256)
    exact = (
        ev.select("event_type", "value")
        .distinct()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("exact_nd"),
            # one shared array-percentile buffer for the three quantiles
            # (r16, the q22 shape) — identical doubles, a third the
            # buffer fill and sort work in the narrow merge stage
            F.expr("percentile(value, array(0.5, 0.35, 0.65))").alias("__ps"),
        )
        .select(
            "event_type",
            "exact_nd",
            F.element_at("__ps", 1).alias("__p50"),
            F.element_at("__ps", 2).alias("__p35"),
            F.element_at("__ps", 3).alias("__p65"),
        )
    )
    return sorted_report(
        est.join(exact, "event_type").select(
            "event_type",
            "exact_nd",
            F.round("__p50", 4).alias("exact_p50_distinct"),
            (
                F.abs(F.col("est_nd") - F.col("exact_nd"))
                <= 0.25 * F.col("exact_nd")
            ).alias("nd_within_bound"),
            F.col("est_p50")
            .between(F.col("__p35"), F.col("__p65"))
            .alias("p50_within_bound"),
        ),
        "event_type",
    )


# --------------------------------------------------------------------------
# q89 — VariantType (Spark 4): the modern semi-structured path. q50 parses
# props with a declared from_json schema; parse_json -> VARIANT keeps the
# binary-encoded open schema instead (no schema declaration, typed access
# via variant_get, missing paths -> NULL via try_variant_get). At 100 TB
# the variant binary encoding is shredded columnar in parquet and avoids
# per-query JSON string re-parsing. Oracle: DuckDB JSON extraction — the
# RESULT contract is identical, which is the point (same answers, newer
# storage/access path).
# --------------------------------------------------------------------------
@register(
    "q89_variant_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                           BETWEEN 25 AND 75 THEN 1 END) AS BIGINT) AS mid_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS null_missing
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Spark 4 VariantType: parse_json + variant_get typed access",
)
def q89_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.variant_get("v", "$.k", "long")
    missing = F.try_variant_get("v", "$.missing", "string")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(F.when(k.between(25, 75), 1)).alias("mid_k"),
            F.sum(F.when(missing.isNull(), 1).otherwise(0)).alias("null_missing"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q97 — KLL quantile rollup (the registered name is the oracle key and
# stays): one mergeable sketch per (event_type, day), merged across
# days, answering p50/p90 of `value` without re-scanning raw rows — the
# row-level-quantile upgrade over q88's KMV (which samples DISTINCT
# values only). Spark's built-in KLL bounds the RANK error of every
# quantile: about 1.3% at 99% confidence for the default k = 200
# (sigma ~0.5pp), and a merged sketch keeps the bound of one built on the
# union. Same oracle contract as q88: the query emits the exact quantiles
# plus booleans asserting the estimates landed within a +-5pp rank band —
# ~10 sigma, so KLL's randomised compaction leaves the booleans TRUE on
# every run. Observed worst rank error over repeated runs: 0.7pp at
# sf0.01, 0.5pp at sf0.1. tests/test_sketches.py pins the tighter 2pp
# per-distribution bounds and the merge-of-parts vs whole property.
# --------------------------------------------------------------------------
@register(
    "q97_tdigest_rollup",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS exact_p50,
           ROUND(quantile_cont(value, 0.9), 4) AS exact_p90,
           TRUE AS p50_in_band,
           TRUE AS p90_in_band
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="mergeable KLL sketch rollup: p50/p90 per key, rank-band booleans vs exact",
)
def q97_tdigest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.sketches import kll_quantiles

    ev = read_table(spark, sf_dir, "events").withColumn(
        "__day", F.to_date("ts")
    )
    est = kll_quantiles(ev, "event_type", "__day", "value", quantiles=[0.5, 0.9])
    # ONE array-percentile buffer for all six quantiles (r16, the q22
    # shape): six separate percentile() aggs each collect the full value
    # multiset into their own buffer and sort it six times in the
    # (few-task, group-count-bound) merge stage. Same sorted data, same
    # per-percentage interpolation — identical doubles.
    exact = ev.groupBy("event_type").agg(
        F.expr(
            "percentile(value, array(0.5, 0.9, 0.45, 0.55, 0.85, 0.95))"
        ).alias("__ps")
    ).select(
        "event_type",
        F.element_at("__ps", 1).alias("__p50"),
        F.element_at("__ps", 2).alias("__p90"),
        F.element_at("__ps", 3).alias("__p45"),
        F.element_at("__ps", 4).alias("__p55"),
        F.element_at("__ps", 5).alias("__p85"),
        F.element_at("__ps", 6).alias("__p95"),
    )
    return sorted_report(
        est.join(exact, "event_type").select(
            "event_type",
            F.round("__p50", 4).alias("exact_p50"),
            F.round("__p90", 4).alias("exact_p90"),
            F.col("est_q50").between(F.col("__p45"), F.col("__p55")).alias("p50_in_band"),
            F.col("est_q90").between(F.col("__p85"), F.col("__p95")).alias("p90_in_band"),
        ),
        "event_type",
    )


# --------------------------------------------------------------------------
# q122 — Theta-sketch SET ALGEBRA (the registered name is the oracle key
# and stays): how much do two order-priority classes share their
# customer base? Union / intersection / Jaccard of the two DISTINCT
# customer sets from Spark's built-in Theta sketches alone. Oracle
# contract (the q88/q22 pattern): exact values plus error-bound booleans.
# The default nominal size k = 4096 keeps a sketch EXACT until its set
# outgrows it (sf0.001/sf0.01 run exact). Beyond that, per sigma:
#   - union: relative error 1/sqrt(k) ~= 0.016, so 0.20 is ~13 sigma;
#   - intersection: counted below theta = min(theta_A, theta_B) ~= k /
#     max(|A|, |B|), so its error is sqrt(|I| * max(|A|, |B|) / k) <=
#     union / sqrt(k). The bound stays relative to the UNION (review r6:
#     an exact_inter-relative one is unsound for low-Jaccard pairs);
#     0.30 * union is ~19 sigma;
#   - Jaccard = est_inter / est_union: error <= (1 + J) / sqrt(k) <=
#     0.031 even when both errors add, so 0.10 is >= 3.2 sigma.
# Observed at sf0.1: union rel err 0.004, inter err 0.011 of the union,
# Jaccard abs err 0.008.
# --------------------------------------------------------------------------
@register(
    "q122_kmv_overlap",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderpriority = '2-HIGH'),
    u AS (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b),
    i AS (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS exact_union,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM i) AS exact_inter,
           ROUND((SELECT COUNT(*) FROM i) * 1.0
                 / (SELECT COUNT(*) FROM u), 4) AS exact_jaccard,
           TRUE AS union_within_bound,
           TRUE AS inter_within_bound,
           TRUE AS jaccard_within_bound
    """,
    doc="Theta sketch set algebra: union/intersection/Jaccard of two groups' "
    "distinct sets, error-bound booleans vs exact",
)
def q122_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.sketches import theta_overlap_estimate

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey"
    )
    est = theta_overlap_estimate(
        orders, "o_orderpriority", "o_custkey", "1-URGENT", "2-HIGH"
    )
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    exact = (
        a.union(b)
        .distinct()
        .agg(F.count("*").alias("exact_union"))
        .join(
            a.distinct()
            .intersect(b.distinct())
            .agg(F.count("*").alias("exact_inter")),
            F.lit(True),
        )
    )
    return est.join(exact, F.lit(True)).select(
        "exact_union",
        "exact_inter",
        F.round(
            F.col("exact_inter").cast("double") / F.col("exact_union"), 4
        ).alias("exact_jaccard"),
        (
            F.abs(F.col("est_union") - F.col("exact_union"))
            <= 0.20 * F.col("exact_union")
        ).alias("union_within_bound"),
        (
            F.abs(F.col("est_inter") - F.col("exact_inter"))
            <= 0.30 * F.col("exact_union")
        ).alias("inter_within_bound"),
        (
            F.abs(
                F.col("est_jaccard")
                - F.col("exact_inter").cast("double") / F.col("exact_union")
            )
            <= 0.10
        ).alias("jaccard_within_bound"),
    )
