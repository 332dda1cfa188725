"""Scalar-function operators (SURVEY.md §2.B: q_string_funcs,
q_date_funcs, q_math_funcs, q_case_expr, q_json_funcs, q_array_funcs,
q_subquery_scalar).

All expressions are built-in `pyspark.sql.functions` — JVM-side,
inside whole-stage codegen. Zero Python in the row path.

Float discipline: per-row arithmetic stays unrounded (bit-identical
across engines given the same association order); only transcendentals
(ln) are rounded, since libm implementations may differ by 1 ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import register, register_sql
from presto_cached_examples_spark.sources.catalog import load_table


# Builder kept: the oracle's STRING_SPLIT and STRPOS are DuckDB-only.
@register(
    "q_string_funcs",
    category="scalar",
    oracle="""
    SELECT
      p_partkey,
      UPPER(p_name)                                   AS name_upper,
      SUBSTRING(p_name, 1, 8)                         AS name_prefix,
      CAST(LENGTH(p_name) AS INT)                     AS name_len,
      REPLACE(p_name, ' ', '-')                       AS name_dashed,
      CAST(LEN(STRING_SPLIT(p_name, ' ')) AS INT)     AS n_words,
      CAST(STRPOS(p_name, 'red') AS INT)              AS red_pos,
      CONCAT(p_brand, ':', TRIM(p_type))              AS brand_type,
      REVERSE(p_brand)                                AS brand_rev
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface over part names (reference analog: the
    glyph text render R31)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("-")).alias("name_dashed"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.instr("p_name", "red").alias("red_pos"),
        F.concat(F.col("p_brand"), F.lit(":"), F.trim(F.col("p_type"))).alias("brand_type"),
        F.reverse("p_brand").alias("brand_rev"),
    )


# Builder kept: Spark SQL does not parse the oracle's DATEDIFF('day', ...).
@register(
    "q_date_funcs",
    category="scalar",
    oracle="""
    SELECT
      o_orderkey,
      o_orderdate                                                AS order_date,
      CAST(YEAR(o_orderdate) AS INT)                             AS o_year,
      CAST(QUARTER(o_orderdate) AS INT)                          AS o_quarter,
      CAST(MONTH(o_orderdate) AS INT)                            AS o_month,
      CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_start,
      CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
      CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) AS due_date
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface over o_orderdate (midnight-valued timestamps).

    Date-valued *outputs* are cast to TIMESTAMP on both sides: Spark
    DATE arrives in pandas as datetime.date while DuckDB DATE arrives
    as datetime64, which breaks the driver's value compare even when
    the values agree. TIMESTAMP round-trips identically from both."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.col("o_orderdate").alias("order_date"),
        F.year(d).alias("o_year"),
        F.quarter(d).alias("o_quarter"),
        F.month(d).alias("o_month"),
        F.date_trunc("month", d).cast("timestamp").alias("month_start"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.date_add(d, 30).cast("timestamp").alias("due_date"),
    )


register_sql(
    "q_math_funcs",
    category="scalar",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      ABS(l_quantity - 25.0)                       AS qty_dev,
      CAST(CEIL(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
      CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
      POW(2.0, CAST(l_linenumber AS DOUBLE))       AS pow2_line,
      ROUND(LN(l_extendedprice), 4)                AS ln_price,
      CAST(l_orderkey % 7 AS BIGINT)               AS key_mod7,
      CAST(
        ((CAST(l_linenumber * 4 AS BIGINT) & 31) << 11)
        | ((CAST(l_suppkey % 64 AS BIGINT) & 63) << 5)
        | (CAST(l_partkey % 32 AS BIGINT) & 31)
      AS BIGINT)                                   AS rgb565
    FROM lineitem
    """,
)


register_sql(
    "q_case_expr",
    category="scalar",
    oracle="""
    SELECT
      c_custkey,
      CASE
        WHEN c_acctbal < 0     THEN 'debtor'
        WHEN c_acctbal < 3000  THEN 'bronze'
        WHEN c_acctbal < 7000  THEN 'silver'
        ELSE 'gold'
      END AS tier,
      CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'auto' ELSE 'other' END AS seg_class
    FROM customer
    """,
)


# Builder kept: the oracle's json_extract_string is DuckDB-only.
@register(
    "q_json_funcs",
    category="scalar",
    oracle="""
    SELECT
      CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_bucket,
      COUNT(*)            AS n,
      ROUND(AVG(value), 2) AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events props column (reference analog:
    the packed 16-byte register decode, R16), then aggregate by a
    derived bucket."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 2).alias("avg_value"))
    )


# Builder kept: the oracle's list_min and list_max are DuckDB-only.
@register(
    "q_array_funcs",
    category="scalar",
    oracle="""
    SELECT
      vec_id,
      CAST(LEN(embedding) AS INT)           AS dim,
      CAST(embedding[1] AS DOUBLE)          AS first_val,
      CAST(list_min(embedding) AS DOUBLE)   AS min_val,
      CAST(list_max(embedding) AS DOUBLE)   AS max_val,
      (CAST(embedding[1] AS DOUBLE) > 0)    AS first_positive,
      CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) AS head_sum
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface over the embedding column (array<float>, arity 64)
    — size / element access / min / max, all exact float ops (no
    accumulation, so no rounding needed)."""
    e = load_table(spark, sf_dir, "embeddings")
    first = F.element_at("embedding", 1).cast("double")
    second = F.element_at("embedding", 2).cast("double")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        first.alias("first_val"),
        F.array_min("embedding").cast("double").alias("min_val"),
        F.array_max("embedding").cast("double").alias("max_val"),
        (first > 0).alias("first_positive"),
        (first + second).alias("head_sum"),
    )


register_sql(
    "q_subquery_scalar",
    category="subquery",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_above,
           ROUND(AVG(l_extendedprice), 2) AS avg_above
    FROM lineitem
    WHERE l_extendedprice > (SELECT 1.9 * AVG(l_extendedprice) FROM lineitem)
    GROUP BY l_returnflag
    """,
)


# Builder kept: the query is the MapType surface; Spark SQL does not parse
# the oracle's STRING_AGG(DISTINCT ... ORDER BY ...).
@register(
    "q_map_funcs",
    category="scalar",
    oracle="""
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS INT) AS n_types,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                  THEN 1 END), 0) AS BIGINT) AS purchase_cnt,
           STRING_AGG(DISTINCT event_type, ',' ORDER BY event_type)
             AS type_list
    FROM events GROUP BY user_id
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per user, build a map<event_type, count> with
    map_from_entries over the grouped counts, then read it back —
    cardinality, a key lookup with a missing-key default
    (element_at -> NULL -> 0), and the sorted key list. The
    engine-completeness row for Presto's MAP
    constructors/element_at/map_keys family; the oracle states the
    same semantics relationally (a map built from grouped counts IS
    that grouping), which is exactly the equivalence the query
    demonstrates.

    Scale: one shuffle on (user, type) with partial aggregation, one
    on user; per-user map arity is bounded by |event_types| (5), so
    map state never grows with event volume.

    Reference provenance: R16 packed key-value register decode
    (/root/reference/src/FT6236.h:104-114 — packed touch registers
    decoded into typed per-slot fields)."""
    ev = load_table(spark, sf_dir, "events")
    cnts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = cnts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("purchase")), F.lit(0))
        .cast("long")
        .alias("purchase_cnt"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("type_list"),
    )


# Both sides aggregate to at most six buckets before the null-safe join,
# so the NULL bucket cannot hot-spot one partition of a raw-key join.
register_sql(
    "q_join_nullsafe",
    category="join",
    oracle="""
    WITH ck AS (
      SELECT NULLIF(c_nationkey % 5, 4) AS k, COUNT(*) AS n_cust
      FROM customer GROUP BY 1
    ),
    sk AS (
      SELECT NULLIF(s_nationkey % 5, 4) AS k, COUNT(*) AS n_supp
      FROM supplier GROUP BY 1
    )
    SELECT CAST(ck.k AS INT) AS k, ck.n_cust, sk.n_supp,
           CAST(ck.n_cust * sk.n_supp AS BIGINT) AS n_pairs
    FROM ck JOIN sk ON ck.k IS NOT DISTINCT FROM sk.k
    """,
)
