"""Approximate/scale-path variants and remaining scalar-function coverage.

q16 keeps the EXACT countDistinct/percentile forms for the oracle; q22 is
the documented 100 TB default for the same shape: approx_count_distinct
(HyperLogLog++, no per-group value buffering) and percentile_approx
(bounded-memory sketch). Estimator outputs are engine-specific, so q22 is
a rows-only entry; tests/test_approx.py pins the estimates within
tolerance of the exact answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_big_data_spark.registry import register
from reddit_big_data_spark.sources.io import read_table, sorted_report


# --------------------------------------------------------------------------
# q22 — the scale path for q16: HLL distinct counts + quantile sketches.
# At 100x data these replace exact forms whose per-group state grows with
# group size; these are fixed-size sketches with map-side partial merge.
#
# Oracle contract (the q88 pattern): estimator outputs are
# engine-specific, so the query emits the SQL-checkable exact values plus
# booleans asserting each estimate landed inside its published bound —
# deterministic, HLL++/quantile-sketch carry no RNG state. Bounds:
# 8% relative for rsd=0.02 HLL++ (4 sigma; observed <=0.95%), and the
# exact p45..p55 / p85..p95 rank bands for percentile_approx at accuracy
# 10000 (rank error <=1e-4 — observed dead-on). The exact aggregates
# exist ONLY to power the verification; the operator under demonstration
# remains the approximate scale path.
# --------------------------------------------------------------------------
@register(
    "q22_approx_distinct_percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_nd_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_nd_supps,
           -- ROUND at 3dp, not 2 (r12 sf0.001 sweep): an interpolated
           -- quantile of 2dp prices TERMINATES at 3 decimals, so 2dp
           -- rounding discards a possibly-exactly-5 third digit — and the
           -- engines disagree on double rounding at exact ties (Spark
           -- rounds the shortest decimal repr HALF_UP, DuckDB rounds in
           -- binary: the sf0.001 R-group median 52724.245 rounded to
           -- .25 vs .24). At 3dp nothing is discarded, so both engines
           -- land on the same canonical double and cross-engine ulp
           -- noise (5e-4 boundary vs 1e-11 ulp) cannot flip it.
           ROUND(quantile_cont(l_extendedprice, 0.5), 3) AS exact_median,
           ROUND(quantile_cont(l_extendedprice, 0.9), 3) AS exact_p90,
           TRUE AS nd_parts_ok,
           TRUE AS nd_supps_ok,
           TRUE AS median_in_band,
           TRUE AS p90_in_band
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="approx_count_distinct + percentile_approx (the 100TB default for "
    "q16), error-bound booleans vs exact",
)
def q22_approx_distinct_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shape note (measured 16s -> 1.9s at sf0.1): two countDistincts in
    # ONE agg force a 3-way Expand that also triples the percentile
    # buffering, so the exact distinct counts run as separate narrow
    # pre-distinct aggregations (partial-aggregated, 8-byte rows) joined
    # back, and all six exact percentiles share a single array-percentile
    # buffer (ditto the two approx ones).
    li = read_table(spark, sf_dir, "lineitem")
    main = li.groupBy("l_returnflag").agg(
        F.expr("percentile_approx(l_extendedprice, array(0.5, 0.9), 10000)").alias(
            "__apx"
        ),
        F.expr(
            "percentile(l_extendedprice, array(0.45, 0.5, 0.55, 0.85, 0.9, 0.95))"
        ).alias("__pcts"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("a_nd_p"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("a_nd_s"),
    )
    nd_p = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("exact_nd_parts"))
    )
    nd_s = (
        li.select("l_returnflag", "l_suppkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("exact_nd_supps"))
    )
    rel = lambda a, e: F.abs(F.col(a) - F.col(e)) <= 0.08 * F.col(e)  # noqa: E731
    p = lambda i: F.element_at("__pcts", i)  # noqa: E731  (1-based)
    return sorted_report(
        main.join(nd_p, "l_returnflag")
        .join(nd_s, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_nd_parts",
            "exact_nd_supps",
            # 3dp: the no-discard rounding scale for interpolated
            # quantiles of 2dp prices (see the oracle comment)
            F.round(p(2), 3).alias("exact_median"),
            F.round(p(5), 3).alias("exact_p90"),
            rel("a_nd_p", "exact_nd_parts").alias("nd_parts_ok"),
            rel("a_nd_s", "exact_nd_supps").alias("nd_supps_ok"),
            F.element_at("__apx", 1).between(p(1), p(3)).alias("median_in_band"),
            F.element_at("__apx", 2).between(p(4), p(6)).alias("p90_in_band"),
        ),
        "l_returnflag",
    )


# --------------------------------------------------------------------------
# q23 — remaining scalar functions with an oracle: F1 from_unixtime (epoch
# -> wall-clock string; the reference's created_utc conversions at
# code/eda/project_eda.py:685-686) and F13 concat_ws over a collected set
# (code/nlp/NFL_Processing.py:206-208 uses it to join token arrays).
# --------------------------------------------------------------------------
@register(
    "q23_epoch_concat",
    oracle="""
    SELECT strftime(to_timestamp(CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT))
                    AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS day_str,
           COUNT(*) AS cnt,
           string_agg(DISTINCT event_type, '|' ORDER BY event_type) AS types
    FROM events
    WHERE event_type <> 'error'
    GROUP BY 1
    ORDER BY 1
    """,
    doc="from_unixtime epoch->string + concat_ws over sorted set (F1+F13)",
)
def q23_epoch_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    day = F.from_unixtime(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long") * 86400
    )
    return (
        ev.filter(F.col("event_type") != "error")
        .groupBy(day.alias("day_str"))
        .agg(
            F.count("*").alias("cnt"),
            F.array_join(F.array_sort(F.collect_set("event_type")), "|").alias("types"),
        )
        .orderBy("day_str")
    )


# --------------------------------------------------------------------------
# q24 — A12 summary()/describe(): Spark's built-in profile. The operator
# under demonstration is df.summary() itself; the query requests its five
# EXACT statistics (count/mean/stddev/min/max — the quartile rows are
# approximate by design and are what kept q24 rows-only until round 5)
# and casts the string cells back to rounded doubles, which a DuckDB
# oracle reproduces with plain aggregates. stddev is the sample form on
# both engines.
# --------------------------------------------------------------------------
@register(
    "q24_summary_stats",
    oracle="""
    SELECT 'count' AS summary,
           ROUND(COUNT(l_quantity), 4) AS l_quantity,
           ROUND(COUNT(l_extendedprice), 4) AS l_extendedprice,
           ROUND(COUNT(l_discount), 4) AS l_discount
    FROM lineitem
    UNION ALL
    SELECT 'mean', ROUND(AVG(l_quantity), 4), ROUND(AVG(l_extendedprice), 4),
           ROUND(AVG(l_discount), 4)
    FROM lineitem
    UNION ALL
    SELECT 'stddev', ROUND(stddev_samp(l_quantity), 4),
           ROUND(stddev_samp(l_extendedprice), 4), ROUND(stddev_samp(l_discount), 4)
    FROM lineitem
    UNION ALL
    SELECT 'min', ROUND(MIN(l_quantity), 4), ROUND(MIN(l_extendedprice), 4),
           ROUND(MIN(l_discount), 4)
    FROM lineitem
    UNION ALL
    SELECT 'max', ROUND(MAX(l_quantity), 4), ROUND(MAX(l_extendedprice), 4),
           ROUND(MAX(l_discount), 4)
    FROM lineitem
    ORDER BY summary
    """,
    doc="df.summary() profile over numeric columns (A12), exact-statistic "
    "rows with a plain-aggregate oracle",
)
def q24_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    prof = li.select("l_quantity", "l_extendedprice", "l_discount").summary(
        "count", "mean", "stddev", "min", "max"
    )
    return prof.select(
        "summary",
        *[
            F.round(F.col(c).cast("double"), 4).alias(c)
            for c in ("l_quantity", "l_extendedprice", "l_discount")
        ],
    ).orderBy("summary")


# --------------------------------------------------------------------------
# q57 — pivot/cross-tab: event_type x day-of-week counts, pivoted wide
# (df.groupBy().pivot() with explicit values — never let pivot scan for
# distinct values at scale). Oracle: conditional aggregation.
# --------------------------------------------------------------------------
_DOWS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]


@register(
    "q57_pivot",
    oracle="""
    SELECT event_type,
           CAST(COUNT(CASE WHEN strftime(ts, '%a') = 'Mon' THEN 1 END) AS BIGINT) AS "Mon",
           CAST(COUNT(CASE WHEN strftime(ts, '%a') = 'Tue' THEN 1 END) AS BIGINT) AS "Tue",
           CAST(COUNT(CASE WHEN strftime(ts, '%a') = 'Wed' THEN 1 END) AS BIGINT) AS "Wed",
           CAST(COUNT(CASE WHEN strftime(ts, '%a') = 'Thu' THEN 1 END) AS BIGINT) AS "Thu",
           CAST(COUNT(CASE WHEN strftime(ts, '%a') = 'Fri' THEN 1 END) AS BIGINT) AS "Fri",
           CAST(COUNT(CASE WHEN strftime(ts, '%a') = 'Sat' THEN 1 END) AS BIGINT) AS "Sat",
           CAST(COUNT(CASE WHEN strftime(ts, '%a') = 'Sun' THEN 1 END) AS BIGINT) AS "Sun"
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="pivot/cross-tab with explicit pivot values (A2 extension)",
)
def q57_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = (
        ev.withColumn("dow", F.date_format("ts", "E"))
        .groupBy("event_type")
        .pivot("dow", _DOWS)  # explicit values: no distinct-scan job
        .agg(F.count(F.lit(1)))  # count(*) star is rejected inside pivot
        .na.fill(0)
        .orderBy("event_type")
    )
    return out


# --------------------------------------------------------------------------
# q58 — cube: all grouping combinations of (event_type, value tier) with
# subtotal rows, distinguished via COALESCE sentinels (§2.4 extension;
# rollup is q15).
# --------------------------------------------------------------------------
@register(
    "q58_cube",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CASE WHEN value < 100 THEN 'small' ELSE 'large' END AS tier,
             value
      FROM events
    )
    SELECT COALESCE(event_type, '<all>') AS event_type,
           COALESCE(tier, '<all>') AS tier,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM b
    GROUP BY CUBE (event_type, tier)
    ORDER BY event_type, tier
    """,
    doc="cube with all subtotal combinations (§2.4 extension)",
)
def q58_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").withColumn(
        "tier", F.when(F.col("value") < 100, "small").otherwise("large")
    )
    return (
        ev.cube("event_type", "tier")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("tier", F.lit("<all>")).alias("tier"),
            "cnt",
            "sum_value",
        )
        .orderBy("event_type", "tier")
    )
