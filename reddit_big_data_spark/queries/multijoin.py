"""Multi-table join planning (TPC-H Q5 shape) and ranking-function
breadth (dense_rank / percent_rank / cume_dist).

The reference's biggest join chain is two dims deep
(code/project_starter_script.py:160-170); q86 exercises the 6-table
shape a warehouse join optimizer actually faces, including a
LOCAL-supplier residual (c_nationkey = s_nationkey) that constrains the
join graph beyond the key chain. Spark-first plan: the three true dims
(supplier, nation, region) broadcast; customer⋈orders and ⋈lineitem
shuffle on their natural keys; Catalyst + AQE order the rest. At 100 TB
only orders and lineitem are fact-sized, so the single big shuffle pair
is on o_orderkey/l_orderkey — the co-partitioning a bucketed table
(`bucketBy` on those keys) would pin for repeated runs.

q87 completes the §2.5 window surface begun by q10/q11/q18 with the
rank-family functions the reference never used but any analyst will:
dense_rank (gapless), percent_rank and cume_dist (distribution
position), all over properly PARTITIONED windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_big_data_spark.operators.exact import exact_sum
from reddit_big_data_spark.registry import register
from reddit_big_data_spark.sources.io import read_table


# --------------------------------------------------------------------------
# q86 — TPC-H Q5 shape: revenue from LOCAL supply chains (supplier and
# customer in the same nation) per nation of one region, two order years.
# --------------------------------------------------------------------------
@register(
    "q86_local_supplier_volume",
    oracle="""
    -- revenue via exact integer units (operators/exact.py, r12): the
    -- 4dp-terminating product rounded at 2dp was a cross-engine tie
    -- lottery per group (Spark rounds shortest-repr HALF_UP, DuckDB in
    -- binary)
    SELECT n_name,
           SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="6-table join with local-supplier residual (TPC-H Q5 shape)",
)
def q86_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey")
    )
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supplier = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    ).select("r_regionkey")
    # Dims pre-reduced and broadcast: region prunes nation, nation prunes
    # supplier BEFORE the fact join, so the big shuffle pair (orders ⋈
    # lineitem on orderkey) carries only surviving rows.
    nat = nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    supp = supplier.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        orders.join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# q87 — rank-family windows: per order priority, the top-3 customers by
# spend with dense_rank (gapless across ties), percent_rank and cume_dist
# (position within the priority's spend distribution). All windows
# PARTITIONED by priority — parallel across partitions at any scale.
# --------------------------------------------------------------------------
@register(
    "q87_rank_family",
    oracle="""
    WITH spend AS (
      SELECT o_orderpriority, o_custkey,
             ROUND(SUM(o_totalprice), 2) AS spent
      FROM orders GROUP BY 1, 2
    ),
    ranked AS (
      SELECT o_orderpriority, o_custkey, spent,
             ROW_NUMBER() OVER w AS rn,
             DENSE_RANK() OVER w AS drank,
             ROUND(PERCENT_RANK() OVER w, 6) AS prank,
             ROUND(CUME_DIST() OVER w, 6) AS cdist
      FROM spend
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY spent DESC, o_custkey)
    )
    SELECT o_orderpriority, o_custkey, spent,
           CAST(drank AS BIGINT) AS drank, prank, cdist
    FROM ranked WHERE rn <= 3
    ORDER BY o_orderpriority, rn
    """,
    doc="dense_rank / percent_rank / cume_dist over partitioned windows",
)
def q87_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_orderpriority", "o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spent")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("spent"), "o_custkey"
    )
    return (
        spend.select(
            "o_orderpriority",
            "o_custkey",
            "spent",
            F.row_number().over(w).alias("rn"),
            F.dense_rank().over(w).cast("long").alias("drank"),
            F.round(F.percent_rank().over(w), 6).alias("prank"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("o_orderpriority", F.desc("spent"), "o_custkey")
    )


# --------------------------------------------------------------------------
# q93 — TPC-H Q7 shape (volume shipping): bilateral trade between two
# nations per ship year. The nation dim joins twice under different
# roles (supplier's nation, customer's nation) — the classic self-joined
# dimension — and the OR'd pair filter prunes BOTH broadcast sides
# before the fact shuffles.
# --------------------------------------------------------------------------
@register(
    "q93_volume_shipping",
    oracle="""
    -- revenue via exact integer units (operators/exact.py): volume
    -- terminates at 4dp, so ROUND at 2 was a cross-engine tie lottery
    SELECT supp_nation, cust_nation, l_year,
           SUM(CAST(FLOOR(volume * 10000 + 0.5) AS BIGINT)) / 10000.0
             AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2')
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="bilateral trade volume, twice-joined nation dim (TPC-H Q7 shape)",
)
def q93_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = F.col("supp_nation").isin("NATION_2", "NATION_7") & F.col(
        "cust_nation"
    ).isin("NATION_2", "NATION_7") & (F.col("supp_nation") != F.col("cust_nation"))
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_2", "NATION_7"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_2", "NATION_7"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# q94 — TPC-H Q8 shape (market share): one nation's share of a brand's
# revenue into one region, per order year — a ratio of conditional to
# total aggregate in a single pass over the joined facts.
# --------------------------------------------------------------------------
@register(
    "q94_market_share",
    oracle="""
    SELECT o_year, ROUND(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                             ELSE 0 END) / SUM(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_brand = 'Brand#1'
    )
    GROUP BY o_year ORDER BY o_year
    """,
    doc="conditional/total revenue ratio per year (TPC-H Q8 shape)",
)
def q94_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    asia_cust = (
        read_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(asia_cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# q107 — TPC-H Q12 shape (shipping modes / priority classes): one fact
# equi-join (orders ⋈ lineitem) with a pushed shipdate range, then
# per-category CONDITIONAL counts (high-priority vs low-priority orders
# per line status) — the canonical when/otherwise-inside-SUM rollup.
# (The testdata has no l_shipmode; l_linestatus plays the category.)
# --------------------------------------------------------------------------
@register(
    "q107_priority_class_counts",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="conditional priority counts per line status (TPC-H Q12 shape)",
)
def q107_priority_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select("l_orderkey", "l_linestatus")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# q108 — TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
# join so zero-order customers survive with count 0, then a histogram of
# the per-customer counts — the distribution-of-a-distribution rollup
# (two aggregations, the second over the first's output). The priority
# filter inside the JOIN condition (not WHERE) is the Q13 trap: a WHERE
# would silently drop the zero-order customers the left join preserved.
# --------------------------------------------------------------------------
@register(
    "q108_order_count_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="left-join order-count histogram incl. zero-order customers (TPC-H Q13 shape)",
)
def q108_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# q109 — TPC-H Q14 shape (promo revenue share): a dim equi-join and a
# ratio of conditional to total revenue in ONE aggregation pass — no
# second scan for the denominator. The part dim is broadcast (it only
# contributes the p_type flag).
# --------------------------------------------------------------------------
@register(
    "q109_promo_revenue_share",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-09-01'
    """,
    doc="promo revenue share: conditional/total ratio in one pass (TPC-H Q14 shape)",
)
def q109_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-09-01").cast("timestamp_ntz"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(
        F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
    ).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_share_pct")
    )


# --------------------------------------------------------------------------
# q117 — returned-item revenue report (TPC-H Q10 shape): which customers
# returned the most revenue. 3-way fact join filtered to l_returnflag='R',
# nation dim broadcast, top-20 by revenue. The canonical "join the fact
# chain, aggregate per entity, rank" report.
# --------------------------------------------------------------------------
@register(
    "q117_returned_revenue",
    oracle="""
    -- exact-unit revenue (operators/exact.py): per-customer groups are
    -- small, so the 2dp ROUND tie would corrupt the top-20 SELECTION too
    SELECT c_custkey, c_name, n_name,
           SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="returned-item revenue per customer (TPC-H Q10 shape)",
)
def q117_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exact_sum(rev, 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q118 — large-volume customers (TPC-H Q18 shape): orders whose total
# lineitem quantity crosses a threshold, with their customer. The HAVING-
# on-join-aggregate shape: aggregate the fact FIRST (map-side combined),
# filter on the aggregate, and only then join the (now tiny) survivors to
# the dimension chain — never the other order.
# --------------------------------------------------------------------------
@register(
    "q118_large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(total_qty, 1) AS total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="large-volume orders via HAVING on fact aggregate (TPC-H Q18 shape)",
)
def q118_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("total_qty", 1).alias("total_qty"),
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q119 — disjunctive-predicate revenue (TPC-H Q19 shape, adapted to the
# testdata's part columns: brand + size + quantity bands replace the
# container/brand bands): revenue from lineitems matching ANY of three
# (brand, size-range, quantity-range) conjunctions. The point is the
# OR-of-ANDs pushdown: the disjunction references BOTH sides of the
# part⋈lineitem join, so each conjunct's single-table prefixes (brand,
# size) must still prune the part scan before the join.
# --------------------------------------------------------------------------
@register(
    "q119_disjunctive_revenue",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           -- exact-unit revenue (operators/exact.py): 4dp product, no
           -- 2dp ROUND tie
           SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    doc="OR-of-ANDs cross-table predicate revenue (TPC-H Q19 shape)",
)
def q119_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    arm = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    cond = (
        arm("Brand#1", 1, 15, 1, 20)
        | arm("Brand#2", 10, 30, 10, 35)
        | arm("Brand#3", 20, 50, 20, 50)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum(rev, 4).alias("revenue"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# q126 — TPC-H Q6 shape (forecast revenue change): the canonical
# scan-filter-aggregate — one pass over lineitem, three cheap predicates
# (ship year, discount band, quantity cap), one global sum of
# extendedprice * discount. The whole query is a single WholeStageCodegen
# span over the parquet scan with every predicate pushed down; at 100 TB
# a year-partitioned layout prunes to 1/7 of the files before the scan
# starts, and the global sum is map-side partials + one 1-row merge — no
# data-sized shuffle anywhere. With q126/q127 every TPC-H query buildable
# without a partsupp table (18 of 22) has a shape here; Q2/Q9/Q11/Q20
# stay out on the documented missing-table ground (SURVEY §"what's
# missing").
# --------------------------------------------------------------------------
@register(
    "q126_forecast_revenue",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           -- exact-unit revenue delta (operators/exact.py): price*disc
           -- terminates at 4dp, no 2dp ROUND tie
           SUM(CAST(FLOOR(l_extendedprice * l_discount * 10000 + 0.5)
                    AS BIGINT)) / 10000.0 AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="forecast revenue delta: single-pass filtered global sum (TPC-H Q6 shape)",
)
def q126_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("n_items"),
            exact_sum(
                F.col("l_extendedprice") * F.col("l_discount"), 4
            ).alias("revenue_delta"),
        )
    )
