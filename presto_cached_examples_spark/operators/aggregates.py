"""Aggregation operators (SURVEY.md §2.B: q_agg_*).

Scale posture: every aggregate here is a hash aggregate with map-side
partial aggregation (Spark's partial→final HashAggregate pair), so the
shuffle moves one row per (partition, group), not per input row. At
100 TB the group-key cardinalities below (returnflag×linestatus = 6,
event_type = 5, priority = 5) make the final shuffle negligible; the
scan dominates and is column-pruned + filter-pushed.

Float discipline: double aggregates are rounded to 2 decimals on both
the Spark and DuckDB sides (FIXTURES.md) so summation order can't flip
the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import register, register_sql
from presto_cached_examples_spark.sources.catalog import load_table


register_sql(
    "q_agg_pricing",
    category="aggregation",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
      ROUND(AVG(l_quantity), 2)                                        AS avg_qty,
      ROUND(AVG(l_extendedprice), 2)                                   AS avg_price,
      ROUND(AVG(l_discount), 2)                                        AS avg_disc,
      COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)


register_sql(
    "q_agg_distinct",
    category="aggregation",
    oracle="""
    SELECT
      o_orderpriority,
      COUNT(DISTINCT o_custkey) AS n_customers,
      COUNT(*)                  AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)


# Builder kept: the query is the HLL++ sketch, and its oracle states only
# the accuracy contract (an exact COUNT(DISTINCT) and a constant TRUE).
@register(
    "q_agg_approx",
    category="aggregation",
    oracle="""
    SELECT
      event_type,
      COUNT(DISTINCT user_id) AS exact_users,
      TRUE                    AS within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event_type (HLL++), SQL-oracled.

    HLL estimates are engine-specific, so the raw sketch value can't be
    hash-compared across engines. Instead the query asserts the accuracy
    contract in-band: ``within_5pct`` is computed by comparing the HLL++
    estimate (rsd=0.01, so 5% ≈ 5σ) against the exact distinct count in
    the same aggregate, and the oracle expects TRUE for every group. The
    exact count is emitted too, giving the hash a real value column.

    At 100 TB you would drop the exact branch and keep only the sketch:
    fixed-size, one pass, mergeable across partitions without a
    per-value shuffle. The exact side here is the verification twin.

    Round 15 (guide §2.3, aggregate before you shuffle): the mixed
    exact-distinct + HLL aggregate planned as an Expand (2x every
    event row into the exchange, HLL updated once per RAW row). Now a
    two-level aggregate: dedup (event_type, user_id) first (map-side
    partial agg, shuffle carries distinct pairs only), then count +
    HLL over the deduped relation. HLL register state is duplicate-
    insensitive (max of (register, rho) — re-inserting a value is a
    no-op), so the estimate is bit-identical; count(user_id) over the
    deduped pairs is exactly countDistinct. 3.15 s -> 0.9 s at sf0.1.
    """
    per_user = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    est = F.approx_count_distinct("user_id", 0.01)
    exact = F.count("user_id")
    return per_user.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (F.abs(est - exact) <= 0.05 * exact).alias("within_5pct"),
    )


register_sql(
    "q_agg_stats",
    category="aggregation",
    oracle="""
    SELECT
      event_type,
      ROUND(MIN(value), 2)         AS min_value,
      ROUND(MAX(value), 2)         AS max_value,
      ROUND(AVG(value), 2)         AS avg_value,
      ROUND(STDDEV_SAMP(value), 2) AS stddev_value,
      ROUND(VAR_SAMP(value), 2)    AS var_value,
      COUNT(*)                     AS n
    FROM events
    GROUP BY event_type
    """,
)


register_sql(
    "q_agg_rollup",
    category="aggregation",
    oracle="""
    SELECT
      COALESCE(l_returnflag, '<all>') AS returnflag,
      COALESCE(l_linestatus, '<all>') AS linestatus,
      ROUND(SUM(l_quantity), 2)       AS sum_qty,
      COUNT(*)                        AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


register_sql(
    "q_agg_cube",
    category="aggregation",
    oracle="""
    SELECT
      COALESCE(o_orderstatus, '<all>')   AS orderstatus,
      COALESCE(o_orderpriority, '<all>') AS orderpriority,
      ROUND(SUM(o_totalprice), 2)        AS sum_price,
      COUNT(*)                           AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)


register_sql(
    "q_agg_gsets",
    category="aggregation",
    oracle="""
    SELECT
      COALESCE(l_returnflag, '<all>') AS returnflag,
      COALESCE(l_linestatus, '<all>') AS linestatus,
      COUNT(*)                        AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)


register_sql(
    "q_agg_having",
    category="aggregation",
    oracle="""
    SELECT
      o_custkey,
      COUNT(*)                    AS n_orders,
      ROUND(SUM(o_totalprice), 2) AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)


register_sql(
    "q_agg_conditional",
    category="aggregation",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_extendedprice ELSE 0 END), 2) AS rev_f,
      ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_extendedprice ELSE 0 END), 2) AS rev_o,
      CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)          AS n_discounted,
      ROUND(AVG(CASE WHEN l_quantity >= 25 THEN l_extendedprice END), 2)          AS avg_price_bulk
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


register_sql(
    "q_agg_bitwise",
    category="aggregation",
    oracle="""
    SELECT
      event_type,
      BIT_AND(user_id) AS all_bits,
      BIT_OR(user_id)  AS any_bits,
      BIT_XOR(user_id) AS parity_bits
    FROM events
    GROUP BY event_type
    """,
)
