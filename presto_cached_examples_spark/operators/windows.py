"""Window-function operators (SURVEY.md §2.B: q_window_*, q_topk_group,
q_sort_limit).

Reference analog: the dx/dy delta vs previous poll (FT6236.h:110-113)
is exactly `lag() OVER (PARTITION BY id ORDER BY ts)` — C5/R16.

Scale posture: every window partitions by a high-cardinality key
(customer, user), so state per partition is bounded and the single
shuffle is by that key. Window orderings always carry a unique
tie-break column (orderkey / event_id) so results are total-ordered —
nondeterministic row_number over ties is a correctness bug at any
scale. The one global sort (q_sort_limit) is TakeOrderedAndProject:
per-partition top-N then a driver-side merge of N·partitions rows,
never a full global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import register, register_sql
from presto_cached_examples_spark.sources.catalog import load_table


register_sql(
    "q_window_rank",
    category="window",
    oracle="""
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           ROW_NUMBER() OVER w AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)


# Builder kept: the oracle's epoch_us is DuckDB-only.
@register(
    "q_window_lag",
    category="window",
    oracle="""
    SELECT event_id, user_id, ts, value,
           value - LAG(value) OVER w                       AS value_delta,
           epoch_us(ts) - epoch_us(LAG(ts) OVER w)         AS us_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event deltas — the literal Spark form of the reference's
    dx/dy computation against the previous poll (FT6236.h:110-113).
    First event per user keeps NULL deltas (no prior state)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("us_since_prev"),
    )


# The unpartitioned window is bounded: it runs over the daily aggregate,
# one row per order date, never over the orders themselves.
register_sql(
    "q_window_frame",
    category="window",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS day,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT day, revenue,
           ROUND(AVG(revenue) OVER (
             ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
           ), 2) AS ma7
    FROM daily
    """,
)


register_sql(
    "q_window_running",
    category="window",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_total
    FROM orders
    """,
)


register_sql(
    "q_topk_group",
    category="window",
    oracle="""
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rn AS k
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)


register_sql(
    "q_sort_limit",
    category="sort",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
