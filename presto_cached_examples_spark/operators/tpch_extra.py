"""Deep TPC-H-style analytics (round-3 block, extends SURVEY.md §2.C).

Completes the classic decision-support shapes expressible over the
driver fixtures (no partsupp table, no commit/receipt dates): Q7/Q8
nation-volume and market-share joins, Q13 distribution, Q15 argmax
view join, Q17 correlated-average filter, Q18 having-IN fact
self-aggregation, Q19 disjunctive predicates, Q21-style multi-line
blame analysis, Q22 anti-join opportunity scan.

All plans follow the engine discipline: dimension sides broadcast,
filters reach scans before joins, doubles ROUND(..., 2) on both
engines, LIMIT queries totally ordered with explicit tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import register, register_sql
from presto_cached_examples_spark.sources.catalog import load_table


register_sql(
    "q_volume_shipping",
    category="join",
    oracle="""
    SELECT sn.supp_nation, cn.cust_nation,
           CAST(YEAR(l.l_shipdate) AS INT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN (SELECT s_suppkey, n_name AS supp_nation
          FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey) sn
      ON sn.s_suppkey = l.l_suppkey
    JOIN (SELECT c_custkey, n_name AS cust_nation
          FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey) cn
      ON cn.c_custkey = o.o_custkey
    WHERE ((sn.supp_nation = 'NATION_1' AND cn.cust_nation = 'NATION_2')
        OR (sn.supp_nation = 'NATION_2' AND cn.cust_nation = 'NATION_1'))
      AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1998-01-01'
    GROUP BY sn.supp_nation, cn.cust_nation, CAST(YEAR(l.l_shipdate) AS INT)
    """,
)


# Both revenue sums round to cents before the division, so summation
# order cannot flip the share's fourth decimal.
register_sql(
    "q_mkt_share",
    category="join",
    oracle="""
    SELECT o_year,
           ROUND(ROUND(SUM(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0 END), 2)
                 / ROUND(SUM(volume), 2), 4) AS mkt_share
    FROM (
      SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM lineitem l
      JOIN part p      ON p.p_partkey = l.l_partkey
      JOIN orders o    ON o.o_orderkey = l.l_orderkey
      JOIN customer c  ON c.c_custkey = o.o_custkey
      JOIN nation n1   ON n1.n_nationkey = c.c_nationkey
      JOIN region r    ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s  ON s.s_suppkey = l.l_suppkey
      JOIN nation n2   ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o.o_orderdate AS DATE) <  DATE '1998-01-01'
    ) v
    GROUP BY o_year
    """,
)


register_sql(
    "q_cust_order_dist",
    category="aggregation",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) co
    GROUP BY c_count
    """,
)


register_sql(
    "q_top_supplier",
    category="join",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) <  DATE '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)


register_sql(
    "q_small_qty_revenue",
    category="subquery",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)


# Builder kept: as SQL at sf0.1, stages 4 -> 6 and 581 -> 735 ms warm wall.
@register(
    "q_big_orders",
    category="subquery",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           SUM(l.l_quantity) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume orders: top-100 orders whose total
    quantity exceeds a threshold, with their customer. The HAVING
    subquery is the same fact aggregation the outer query needs, so it
    is computed ONCE and joined back; no second lineitem scan. The
    filtered key set is selective but still SF-proportional, so it
    carries no forced broadcast hint (AQE promotes it while it fits).
    The LIMIT is TakeOrderedAndProject with an explicit orderkey
    tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_order = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("total_qty"))
    big = per_order.filter(F.col("total_qty") > 250)
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


register_sql(
    "q_disjunctive_revenue",
    category="aggregation",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)


# Builder kept: as SQL at sf0.1, shuffle write 2.0x and 1,045 -> 1,854 ms
# warm wall.
@register(
    "q_sole_return_supplier",
    category="subquery",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
               AS n_ret_supp
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders o     ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN per_order po ON po.l_orderkey = l1.l_orderkey
    JOIN supplier s   ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R' AND po.n_supp > 1 AND po.n_ret_supp = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def q_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style sole-blame analysis: suppliers whose returned
    lines sit on finished multi-supplier orders where NO other supplier
    had a return. The classic EXISTS / NOT EXISTS pair of correlated
    self-joins collapses into ONE per-order aggregate (distinct
    suppliers, distinct returning suppliers) joined back — at 100 TB
    that replaces two extra fact shuffles with one, and the blame
    condition becomes a plain filter. Semantics are identical:
    `NOT EXISTS other returning supplier` ⇔ n_ret_supp = 1 given l1
    itself returns; `EXISTS other supplier` ⇔ n_supp > 1."""
    # Round 16 (guide §2.4): one explicit orderkey repartition of the
    # 3-column projection. orderkey partitioning satisfies the
    # clustering of BOTH the (order, supplier) grain aggregate and its
    # per-order rollup, so the whole per_order pipeline runs in one
    # partitioned pass — the before-plan's two chained exchanges
    # (grain keys, then po_orderkey) collapse to the single repartition
    # (plans/r16). At fixture scale the downstream joins broadcast; at
    # SMJ scale the R-filtered join side shares the same partitioning.
    # Alternating A/B: median 1.01 -> 0.69 s, every pair better.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition("l_orderkey")
    )
    # Round 15 (guide §2.3): the two countDistinct aggregates planned
    # as an Expand — every lineitem row duplicated 2x into the
    # exchange. Two-level instead: collapse to (order, supplier) grain
    # first (map-side partial, shuffle carries distinct pairs once),
    # then count groups. count(l_suppkey) over the grain IS
    # countDistinct(l_suppkey); max(has R)-then-sum IS
    # countDistinct(when R) (null-guarded the same way).
    os_grain = li.groupBy(
        F.col("l_orderkey").alias("po_orderkey"), "l_suppkey"
    ).agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("has_ret")
    )
    per_order = os_grain.groupBy("po_orderkey").agg(
        F.count("l_suppkey").alias("n_supp"),
        F.sum(
            F.when(F.col("l_suppkey").isNotNull(), F.col("has_ret")).otherwise(0)
        ).alias("n_ret_supp"),
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(per_order, F.col("l_orderkey") == F.col("po_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


register_sql(
    "q_global_sales_opp",
    category="subquery",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (1, 3, 7, 12, 18)
    )
    SELECT p.c_nationkey AS cntry, COUNT(*) AS numcust,
           ROUND(SUM(p.c_acctbal), 2) AS totacctbal
    FROM pool p
    WHERE p.c_acctbal > (SELECT AVG(c_acctbal) FROM pool WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = p.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY p.c_nationkey
    """,
)


register_sql(
    "q_local_supplier_volume",
    category="join",
    oracle="""
    SELECT n.n_name, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-01-01'
    GROUP BY n.n_name
    """,
)


# No partsupp fixture: cost is modeled as 60% of retail price x quantity.
register_sql(
    "q_product_profit",
    category="join",
    oracle="""
    SELECT n.n_name AS nation, CAST(YEAR(l.l_shipdate) AS INT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.6 * p.p_retailprice * l.l_quantity), 2) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, CAST(YEAR(l.l_shipdate) AS INT)
    """,
)


# No partsupp fixture: unit cost is derived from lineitem and rounded to
# cents, so the MIN equality compares identical doubles on both engines.
register_sql(
    "q_min_cost_supplier",
    category="subquery",
    oracle="""
    WITH eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    ps AS (
      SELECT l.l_partkey, l.l_suppkey,
             ROUND(AVG(l.l_extendedprice / l.l_quantity), 2) AS unit_cost
      FROM lineitem l
      JOIN (SELECT p_partkey FROM part
            WHERE p_type = 'STANDARD' AND p_size <= 15) pp
        ON pp.p_partkey = l.l_partkey
      JOIN eu ON eu.s_suppkey = l.l_suppkey
      WHERE l.l_quantity > 0
      GROUP BY l.l_partkey, l.l_suppkey
    )
    SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey, p.p_brand,
           psm.unit_cost
    FROM (SELECT *, MIN(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
          FROM ps) psm
    JOIN part p ON p.p_partkey = psm.l_partkey
    JOIN eu ON eu.s_suppkey = psm.l_suppkey
    WHERE psm.unit_cost = psm.min_cost
    ORDER BY eu.s_acctbal DESC, eu.n_name, eu.s_name, p.p_partkey
    LIMIT 100
    """,
)


register_sql(
    "q_important_stock",
    category="subquery",
    oracle="""
    WITH natl AS (
      SELECT l.l_partkey, l.l_extendedprice * l.l_quantity AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
    )
    SELECT l_partkey, ROUND(SUM(val), 2) AS part_value
    FROM natl
    GROUP BY l_partkey
    HAVING ROUND(SUM(val), 2) >
           ROUND((SELECT SUM(val) * 2.0 / COUNT(DISTINCT l_partkey) FROM natl), 2)
    ORDER BY part_value DESC, l_partkey
    LIMIT 100
    """,
)


# Builder kept: Spark SQL does not parse the oracle's DATEDIFF('day', ...).
@register(
    "q_shipmode_priority",
    category="aggregation",
    oracle="""
    SELECT CASE WHEN DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) > 60
                THEN 'SLOW' ELSE 'FAST' END AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1997-01-01'
    GROUP BY 1
    """,
)
def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style shipping-priority split: line counts by order
    priority class, grouped by a derived shipping-speed class. The
    fixture has no l_shipmode or commit/receipt dates, so the grouping
    key is derived from the order-to-ship delay (> 60 days = SLOW) —
    documented adaptation; the conditional-count-by-class shape is
    Q12's.

    Scale: the ship-date filter prunes the fact scan (pushed to
    parquet); the join shuffles both fact tables on orderkey once and
    the final aggregate has exactly 2 groups — partial map-side counts
    collapse to nothing. Day arithmetic is integer datediff on both
    engines, exact by construction."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.when(
                F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
                > 60,
                "SLOW",
            )
            .otherwise("FAST")
            .alias("ship_class"),
            high.alias("is_high"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


# Builder kept: as SQL at sf0.1, shuffle write 4.0x (1.55 -> 6.26 MB).
@register(
    "q_parts_supplier_count",
    category="aggregation",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier count per part attribute: distinct
    suppliers able to supply each (brand, type, size) combination,
    excluding an attribute slice and a NOT-IN supplier denylist
    (negative account balance standing in for Q16's complaint
    comment). The part-supplier relation is the DISTINCT projection of
    lineitem (no partsupp in the fixture; documented adaptation).

    Scale: the denylist is a tiny filtered slice applied as a
    broadcast anti-join BEFORE the distinct, and the part attribute
    filter SEMI-joins the fact rows before the distinct too (round 16,
    guide §3.2 — the attribute slice keeps ~11% of parts, so
    pre-filtering shrinks the distinct's exchange ~9x; the filter on
    partkey commutes with a distinct keyed on (partkey, suppkey)).
    That slice grows with SF, so neither join on it carries a
    broadcast hint: the planner broadcasts it while it fits under
    autoBroadcastJoinThreshold and shuffles it beyond.
    The final COUNT DISTINCT is keyed on the bounded
    brand x type x size domain, so the output and the final-stage
    state are fixed-size regardless of SF."""
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(
            p.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
        )
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .distinct()
    )
    return (
        ps.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# Quantities are integral doubles, so the > 0.5 x total test is exact
# on both engines.
register_sql(
    "q_dominant_supplier",
    category="subquery",
    oracle="""
    WITH yr AS (
      SELECT l.l_partkey, l.l_suppkey, SUM(l.l_quantity) AS qty
      FROM lineitem l
      JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') pp
        ON pp.p_partkey = l.l_partkey
      WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l.l_shipdate AS DATE) <  DATE '1998-01-01'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    tot AS (SELECT l_partkey, SUM(qty) AS part_qty FROM yr GROUP BY l_partkey)
    SELECT s.s_name, n.n_name,
           CAST(COUNT(*) AS BIGINT) AS dominant_parts
    FROM yr
    JOIN tot ON tot.l_partkey = yr.l_partkey
    JOIN supplier s ON s.s_suppkey = yr.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE yr.qty > 0.5 * tot.part_qty
    GROUP BY s.s_name, n.n_name
    """,
)
