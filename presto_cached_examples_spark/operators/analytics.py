"""Extended analytics operators: percentiles, correlation, pivot and
unpivot reshaping, window distribution functions, regexp scalars, and
batch sessionization.

These widen the Presto-class surface beyond SURVEY.md §2.B's initial
inventory — each is a standard warehouse operation a reference user
would expect, each hash-checked against DuckDB.

Scale notes inline per operator; common themes: exact percentiles use
Spark's single-pass `percentile` aggregate (sort within group state, no
extra shuffle); pivots with a declared value list avoid the
values-discovery job entirely; sessionization is one window pass per
user partition — the batch twin of the streaming session window
(streaming/windows.py q_stream_session).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_cached_examples_spark.plans.artifacts import memo
from presto_cached_examples_spark.registry import register, register_sql
from presto_cached_examples_spark.sources.catalog import load_table, spread

# q_agg_percentiles bucket width for the cumulative-rank decomposition:
# a DOMAIN constant (cents of l_extendedprice), not a core-count tune —
# it bounds every raw-row window partition at ≤ 16,384 cent rows and
# yields ~640 buckets per flag over the ~$105k price domain at every
# scale factor and every cluster size.
_PCT_BUCKET_CENTS = 16384


def _cents():
    return F.round(F.col("l_extendedprice") * 100, 0)


def _cent_cum_ranks(li: DataFrame) -> DataFrame:
    """(l_returnflag, cents, cum, n) per distinct cent value: `cum` is
    the cumulative row count up to and including that cent within its
    flag, `n` the flag's row count. See q_agg_percentiles."""
    pre = li.select(
        "l_returnflag",
        _cents().alias("cents"),
        F.floor(_cents() / _PCT_BUCKET_CENTS).alias("bkt"),
    )
    # Both consumers of `pre` must plan the SAME subtree or the
    # repartition is not shared: the join side infers these not-null
    # filters below the exchange, the offsets side cannot (its
    # isnotnull(bkt) stays above the Window). Stating them here makes
    # the two exchanges canonically equal, so one is reused.
    pre = pre.filter(
        F.col("l_returnflag").isNotNull() & F.col("bkt").isNotNull()
    ).repartition("l_returnflag", "bkt")
    cb = pre.groupBy("l_returnflag", "bkt", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    bcounts = cb.groupBy("l_returnflag", "bkt").agg(F.sum("cnt").alias("bcnt"))
    w_off = Window.partitionBy("l_returnflag").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bcounts.select(
        "l_returnflag",
        "bkt",
        F.coalesce(F.sum("bcnt").over(w_off), F.lit(0)).alias("off"),
        F.sum("bcnt").over(Window.partitionBy("l_returnflag")).alias("n"),
    )

    w_cum = Window.partitionBy("l_returnflag", "bkt").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return cb.join(F.broadcast(offsets), ["l_returnflag", "bkt"]).select(
        "l_returnflag",
        "cents",
        (F.col("off") + F.sum("cnt").over(w_cum)).alias("cum"),
        "n",
    )


def _cent_quantile(p: float):
    """quantile_cont(cents, p) as an aggregate over _cent_cum_ranks rows."""
    # h is 0-indexed offset into the sorted values; exact for these p
    h = (F.col("n") - 1) * F.lit(p)
    k_lo = F.floor(h) + 1  # 1-indexed rank of lower neighbor
    k_hi = F.least(k_lo + 1, F.col("n"))
    frac = h - F.floor(h)
    v_lo = F.min(F.when(F.col("cum") >= k_lo, F.col("cents")))
    v_hi = F.min(F.when(F.col("cum") >= k_hi, F.col("cents")))
    # frac is constant per group; min() collapses it without state
    fr = F.min(frac)
    return v_lo + fr * (v_hi - v_lo)


@register(
    "q_agg_percentiles",
    category="aggregation",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(ROUND(l_extendedprice * 100, 0), 0.25), 2) / 100 AS p25,
           ROUND(quantile_cont(ROUND(l_extendedprice * 100, 0), 0.50), 2) / 100 AS p50,
           ROUND(quantile_cont(ROUND(l_extendedprice * 100, 0), 0.75), 2) / 100 AS p75,
           ROUND(MAX(l_extendedprice), 2)                                       AS p_max
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group via cent-space bucket
    decomposition — NO per-group buffer-everything state.

    Spark's exact `percentile` aggregate holds EVERY group value in one
    task's state and sorts it; with 3 group keys that is ~n/3 values per
    state — a per-task memory bomb at 100 TB (VERDICT r4 named it the
    headline set's one scale-killer). Instead: prices are exact cents,
    so (1) count rows per (flag, cent) — an ordinary mergeable hash
    aggregate; (2) a running sum ordered by cent gives each bucket its
    cumulative rank range — this window runs over DOMAIN-bounded rows
    (distinct cent values, ~1.1M forever), not data-bounded; (3) the
    value at rank k is the first cent whose cumulative count reaches k,
    a conditional MIN; (4) quantile_cont's linear interpolation
    v_lo + frac*(v_hi - v_lo) is arithmetic on two such rank lookups.
    Same decomposition as q_window_dist_scalable
    (operators/distwindows.py).

    Cross-engine float discipline: h = (n-1)*p is exact for p in
    {.25, .5, .75} (exact binary fractions), cents are integers, so
    every interpolated quantile is an exact multiple of 0.25 — never
    the x.xx5 boundary where engines' ULPs disagree.

    Round 15 (guide §2.5/§2.6 — straggler stage): the cumulative-rank
    window used to be partitioned by l_returnflag alone, i.e. THREE
    tasks sort + prefix-sum + partially aggregate the whole cent-grain
    relation while 29 cores idle (profiled 2.05 s warm at sf0.1, the
    slowest headline stage). Decomposed exactly like
    q_window_dist_scalable: a fixed-width cent bucket (16,384 cents ≈
    $163.84) splits each flag into ~640 groups; per-(flag, bucket)
    subtotals prefix-sum in a tiny window (≤ ~2k rows, broadcast back)
    and the raw-row window runs per (flag, bucket) — every partition
    is bounded by the BUCKET WIDTH (≤ 16,384 cent rows) forever, so
    the stage parallelizes at any scale. cum/n are the same integer
    sums in a different association order — bit-identical, proven by
    old-vs-new frame equality at sf0.001/0.01/0.1 and the unchanged
    oracle hash.

    Round 16 (guide §2.4 — share one exchange): the cent-count
    aggregate used to shuffle on (flag, cents) and the cumulative
    window then RE-shuffled the cent-grain relation on (flag, bkt) —
    two full exchanges of ~|distinct cents| rows. One explicit
    repartition on (flag, bkt) up front now serves the cent aggregate
    (bkt is functionally determined by cents, so adding it to the
    group keys changes nothing), the bucket subtotals, AND the window.
    That repartition is only shared when both consumers plan the same
    subtree, which the not-null filter in _cent_cum_ranks guarantees: the
    executed plan scans lineitem once and writes one cent-grain
    exchange, which the offsets branch reads back as a ReusedExchange
    (with AQE off: 4 exchanges plus 1 reuse; without the filter it was
    5 exchanges, 2 scans and 0 reuses). The other exchanges are the
    tiny offsets window and the final 3-row aggregate; the cent
    aggregate itself runs once per branch over the shared shuffle
    output."""
    b = _cent_cum_ranks(load_table(spark, sf_dir, "lineitem"))

    def quantile(p: float):
        return F.round(_cent_quantile(p), 2) / 100

    return b.groupBy("l_returnflag").agg(
        quantile(0.25).alias("p25"),
        quantile(0.50).alias("p50"),
        quantile(0.75).alias("p75"),
        # cents is monotone in price and prices are 2dp, so max cents/100
        # IS round(max(price), 2) — no second scan of the base table
        (F.max("cents") / 100).alias("p_max"),
    )


register_sql(
    "q_agg_corr",
    category="aggregation",
    oracle="""
    SELECT l_linestatus,
           ROUND(corr(l_quantity, l_extendedprice), 4)       AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_s,
           ROUND(covar_pop(l_quantity, l_extendedprice), 2)  AS covar_p
    FROM lineitem
    GROUP BY l_linestatus
    """,
)


register_sql(
    "q_pivot",
    category="reshape",
    oracle="""
    SELECT l_linestatus,
           ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS A,
           ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS N,
           ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS R
    FROM lineitem
    GROUP BY l_linestatus
    """,
)


register_sql(
    "q_unpivot",
    category="reshape",
    oracle="""
    SELECT o_orderkey, metric, ROUND(val, 2) AS val
    FROM (
      SELECT o_orderkey,
             ROUND(o_totalprice, 2)        AS price,
             CAST(LENGTH(o_orderpriority) AS DOUBLE) AS prio_len
      FROM orders
    )
    UNPIVOT (val FOR metric IN (price, prio_len))
    """,
)


def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window distribution functions (ntile / percent_rank / cume_dist)
    per market segment. The order key is (acctbal, custkey) — unique —
    so every rank is deterministic across engines and partitionings.

    NOT registered (round 3): the plan windows over partitionBy(
    c_mktsegment) — 5 values — so one task sorts 20% of the table, a
    scale-killer at 100 TB. Kept as the straight-line oracle twin that
    tests/test_plans.py::test_window_dist_exact_equals_scalable checks
    the registered scale-safe rewrite (distwindows.py:q_window_dist_
    scalable) against row-for-row."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


register_sql(
    "q_window_firstlast",
    category="window",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(first_value(o_totalprice) OVER w, 2) AS first_price,
           ROUND(last_value(o_totalprice)  OVER w, 2) AS last_price,
           ROUND(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)


@register(
    "q_string_regexp",
    category="scalar",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_type, '([A-Z]+)', 1)            AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g')      AS devoweled,
           regexp_matches(p_type, 'BRUSHED|POLISHED')       AS is_finished
    FROM part
    """,
)
def q_string_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar functions over part names/types. Patterns stay in
    the portable intersection of Java regex and RE2 (character classes,
    alternation — no lookaround), and DuckDB's replace takes the 'g'
    flag to match Spark's replace-all semantics."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"([A-Z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.col("p_type").rlike("BRUSHED|POLISHED").alias("is_finished"),
    )


register_sql(
    "q_sessionize",
    category="window",
    oracle="""
    WITH gapped AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_no
      FROM gapped
    )
    SELECT user_id, session_no,
           MIN(ts)  AS session_start,
           MAX(ts)  AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
)


# Both key columns are non-null, so NOT IN is a plain anti join here;
# one NULL in the subquery would empty the result.
register_sql(
    "q_subquery_in",
    category="subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    AND o_orderkey NOT IN (
      SELECT l_orderkey FROM lineitem WHERE l_discount > 0.09
    )
    """,
)


register_sql(
    "q_subquery_corr",
    category="subquery",
    oracle="""
    SELECT c_custkey, c_nationkey, ROUND(c_acctbal, 2) AS c_acctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT AVG(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)


register_sql(
    "q_agg_groupingid",
    category="aggregation",
    oracle="""
    SELECT
      COALESCE(l_returnflag, '<all>') AS returnflag,
      COALESCE(l_linestatus, '<all>') AS linestatus,
      CAST(GROUPING(l_returnflag) AS INT) * 2
        + CAST(GROUPING(l_linestatus) AS INT) AS gid,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


@register(
    "q_agg_argminmax",
    category="aggregation",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           ROUND(MAX(o_totalprice), 2)       AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin): the key of the extreme row in one
    aggregate — no self-join back to find which row held the max.
    o_totalprice is unique per priority group in the fixtures, so the
    arg is deterministic across engines."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "q_date_series",
    category="time-series",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(o_orderdate) AS DATE) AS lo, CAST(MAX(o_orderdate) AS DATE) AS hi
      FROM orders
    ),
    days AS (
      SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds
    ),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, ROUND(SUM(o_totalprice), 2) AS revenue,
             COUNT(*) AS n_orders
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT d.day::TIMESTAMP AS day, COALESCE(daily.revenue, 0.0) AS revenue,
           COALESCE(daily.n_orders, 0) AS n_orders
    FROM days d LEFT JOIN daily ON d.day = daily.day
    """,
)
def q_date_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily revenue: a generated calendar spine left-joined
    to the daily aggregate, so silent days appear as explicit zeros
    (time-series hygiene before any rolling computation).

    Scale: the spine is sequence()+explode from a 1-row bounds
    aggregate — thousands of rows at most, broadcast side of the join;
    the fact side aggregates once. No shuffle grows with the calendar."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.select(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # No broadcast hint: Spark cannot broadcast the row-preserved side
    # of an outer join, and both inputs here are post-aggregation small
    # (calendar spine × daily rollup) — the shuffle is bounded by days,
    # not orders.
    return (
        days.join(daily, "day", "left")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0).cast("long")).alias("n_orders"),
        )
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric order key: peers within ±100 acctbal.
    RANGE bounds are value-based (unlike ROWS), so ties and gaps in the
    order column are handled identically by both engines.

    NOT registered (round 3): same data-proportional window partition
    as q_window_dist above. Oracle twin for the registered scale-safe
    sweep-line rewrite (distwindows.py:q_window_range_scalable),
    cross-checked in tests/test_plans.py."""
    c = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rangeBetween(-100, 100)
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        F.count(F.lit(1)).over(w).alias("n_within_100"),
    )


register_sql(
    "q_values_cte",
    category="scan",
    oracle="""
    WITH tier(seg, tier_name, min_bal) AS (
      VALUES ('AUTOMOBILE', 'gold', 5000.0),
             ('BUILDING',   'silver', 3000.0),
             ('MACHINERY',  'bronze', 1000.0)
    )
    SELECT c.c_custkey, t.tier_name, ROUND(c.c_acctbal, 2) AS c_acctbal
    FROM customer c
    JOIN tier t ON c.c_mktsegment = t.seg AND c.c_acctbal >= t.min_bal
    """,
)


register_sql(
    "q_top_unshipped",
    category="join",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-03-15'
      AND CAST(l.l_shipdate  AS DATE) >= DATE '1997-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)


register_sql(
    "q_returned_revenue",
    category="join",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS lost_revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, c.c_mktsegment, n.n_name
    ORDER BY lost_revenue DESC, c_custkey
    LIMIT 20
    """,
)


register_sql(
    "q_filtered_revenue",
    category="aggregation",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue_delta,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)


register_sql(
    "q_promo_share",
    category="join",
    oracle="""
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
             / SUM(l.l_extendedprice * (1 - l.l_discount)), 4
           ) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-03-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1997-04-01'
    """,
)


@register(
    "q_agg_stringagg",
    category="aggregation",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT c_nationkey::VARCHAR, ',' ORDER BY c_nationkey::VARCHAR) AS nations,
           COUNT(DISTINCT c_nationkey) AS n_nations
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_agg_stringagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation made deterministic: collect_set → array_sort →
    array_join fixes the concatenation order that plain listagg leaves
    partition-dependent — the only way a string agg can be
    hash-compared across engines (or across two runs of the same
    engine)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.array_join(
            F.array_sort(F.collect_set(F.col("c_nationkey").cast("string"))), ","
        ).alias("nations"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


register_sql(
    "q_window_lead",
    category="window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice, 2) AS o_totalprice,
           ROUND(lead(o_totalprice, 1, 0.0) OVER w, 2)  AS next_price,
           CAST(lead(o_orderdate) OVER w AS TIMESTAMP)   AS next_date
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)


register_sql(
    "q_agg_decimal",
    category="aggregation",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_exact,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


register_sql(
    "q_exists_agg",
    category="subquery",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    GROUP BY o.o_orderpriority
    """,
)


register_sql(
    "q_null_ordering",
    category="sort",
    oracle="""
    WITH enriched AS (
      SELECT c.c_custkey,
             ROUND(SUM(o.o_totalprice), 2) AS spent
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_totalprice > 450000
      GROUP BY c.c_custkey
    )
    SELECT c_custkey, spent
    FROM enriched
    ORDER BY spent DESC NULLS FIRST, c_custkey
    LIMIT 50
    """,
)


register_sql(
    "q_histogram",
    category="aggregation",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 13
                     ELSE FLOOR(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
           COUNT(*)                    AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)


register_sql(
    "q_cond_count",
    category="aggregation",
    oracle="""
    SELECT c_mktsegment,
           CAST(count_if(c_acctbal > 5000) AS BIGINT) AS n_rich,
           bool_and(c_acctbal > -1000)     AS all_above_floor,
           bool_or(c_acctbal > 9990)       AS any_near_cap
    FROM customer
    GROUP BY c_mktsegment
    """,
)


@register(
    "q_agg_percentiles_approx",
    category="aggregation",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(ROUND(l_extendedprice * 100, 0), 0.50), 2) / 100
             AS exact_p50,
           TRUE AS within_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path q_agg_percentiles' docstring promises,
    proven with q_agg_approx's accuracy-band pattern: compute the exact
    interpolated median AND approx_percentile's mergeable-sketch median
    in one aggregate, emit the exact value (hash-checkable cross-engine)
    plus a flag asserting the sketch answer lands inside its rank-error
    guarantee. approx_percentile(acc=10000) returns an element whose
    rank is within n/10000 of the target; the flag brackets it between
    the exact interpolated quantiles at 0.5 ∓ 0.01 — a 100× slack, so
    the flag is deterministically TRUE whatever partition order the
    sketch merges in (GK merge is order-sensitive; the GUARANTEE is
    not). The oracle pins TRUE: a broken sketch merge flips the hash.

    Scale: approx_percentile is the point — its state is a fixed-size
    quantile summary that merges associatively, so a 100 TB column
    folds map-side with no per-group sort. Round 15: the exact band
    side no longer rides Spark's `percentile` aggregate — that
    operator buffers EVERY group value in one task's state (the
    buffer-everything class VERDICT r4 flagged, which q_agg_percentiles
    itself eliminated rounds ago) — it now reuses the cent-histogram
    decomposition: (flag, cent) counts → bucket-windowed cumulative
    ranks → rank lookups, all mergeable aggregates with domain-bounded
    state. The interpolation `v_lo + frac*(v_hi − v_lo)` with
    frac = p*(n−1) − floor(p*(n−1)) is the identical double arithmetic
    Spark's Percentile.getPercentile performs, so the exact quantiles
    are bit-identical (old-vs-new frames equal at sf0.1; oracle
    hash-match at 3 SFs)."""
    li = load_table(spark, sf_dir, "lineitem")
    ex = _cent_cum_ranks(li).groupBy("l_returnflag").agg(
        _cent_quantile(0.49).alias("ex_lo"),
        _cent_quantile(0.50).alias("ex_mid"),
        _cent_quantile(0.51).alias("ex_hi"),
    )
    ap = li.groupBy("l_returnflag").agg(
        F.percentile_approx(_cents(), F.lit(0.50), F.lit(10000)).alias("ap")
    )
    return ex.join(F.broadcast(ap), "l_returnflag").select(
        "l_returnflag",
        (F.round(F.col("ex_mid"), 2) / 100).alias("exact_p50"),
        (
            (F.col("ap") >= F.col("ex_lo")) & (F.col("ap") <= F.col("ex_hi"))
        ).alias("within_band"),
    )


@register(
    "q_fuzzy_match",
    category="join",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 1
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string matching: part-name pairs within edit
    distance 1, compared only inside (brand, name-head-noun) blocks —
    the entity-resolution shape (block to bound the quadratic, then
    score candidates with an exact metric). Non-vacuous at every
    fixture SF (12 / 1.5k / 156k pairs).

    Scale: the self-join key is a uniform composite whose block sizes
    are bounded by the brand × noun vocabulary (max 123 rows/block on
    the fixtures), so candidate pairs grow linearly with the table,
    not quadratically; levenshtein runs JVM-side on candidates only.
    The minhash/LSH pipeline (llm/dedup.py) is the unbounded-domain
    variant; this one is for typed dimension tables where a natural
    block key exists."""
    # spread(): the broadcast self-join streams the part scan, so on an
    # under-split fixture file ALL candidate generation + levenshtein
    # runs in one task (no-op at production split counts)
    p = spread(load_table(spark, sf_dir, "part"), spark).select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.element_at(F.split("p_name", " "), -1).alias("noun"),
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist <= 1)
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.alias("edit_dist"),
        )
    )


# Builder kept: as SQL at sf0.1, stages 3 -> 7 and shuffle write 3.1x; the SQL plan scans
# orders 3 times, and test_profile_stats_is_single_pass pins one scan.
@register(
    "q_profile_stats",
    category="aggregation",
    oracle="""
    SELECT 'o_orderkey' AS col, COUNT(*) AS n, COUNT(o_orderkey) AS n_nonnull,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           ROUND(MIN(o_totalprice), 2) AS price_min, ROUND(MAX(o_totalprice), 2) AS price_max
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(o_custkey), COUNT(DISTINCT o_custkey),
           ROUND(MIN(o_totalprice), 2), ROUND(MAX(o_totalprice), 2)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
           ROUND(MIN(o_totalprice), 2), ROUND(MAX(o_totalprice), 2)
    FROM orders
    """,
)
def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling summary (the ANALYZE TABLE / data-quality
    dashboard shape): row count, non-null count, distinct count per
    profiled column, plus the table's price range on every row for a
    one-glance report.

    Scale: ONE scan computes every profile — a single grouping-free
    aggregate carries all per-column count/countDistinct expressions
    (Spark plans the multi-distinct via Expand + two-phase partial
    aggregation), and a map-side explode unpivots the 1-row result to
    the per-column report layout. Profiling N columns adds expressions
    to the same aggregate, never another pass over the table; the plan
    test pins exactly one parquet scan node."""
    o = load_table(spark, sf_dir, "orders")
    cols = ("o_orderkey", "o_custkey", "o_orderstatus")
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("price_min"),
        F.round(F.max("o_totalprice"), 2).alias("price_max"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in cols],
    )
    profiles = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col"),
                    F.col(f"nn_{c}").alias("n_nonnull"),
                    F.col(f"nd_{c}").alias("n_distinct"),
                )
                for c in cols
            ]
        )
    ).alias("p")
    return agg.select("n", "price_min", "price_max", profiles).select(
        "p.col", "n", "p.n_nonnull", "p.n_distinct", "price_min", "price_max"
    )


register_sql(
    "q_lateral_topk",
    category="subquery",
    oracle="""
    SELECT n.n_name, t.c_custkey, ROUND(t.c_acctbal, 2) AS c_acctbal
    FROM nation n,
    LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    """,
)


# Builder kept: as SQL, NTILE is one single-task window over every customer, which
# distwindows.global_rank avoids; at sf0.1, shuffle write +70.9% (204,459 -> 349,394 bytes).
@register(
    "q_ntile_spend",
    category="window",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS spend
      FROM orders GROUP BY o_custkey
    ),
    tiled AS (
      SELECT o_custkey, spend,
             NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
      FROM spend
    )
    SELECT decile,
           COUNT(*) AS n_customers,
           ROUND(MIN(spend), 2) AS min_spend,
           ROUND(MAX(spend), 2) AS max_spend,
           ROUND(CAST(SUM(CAST(ROUND(spend * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
                 / COUNT(*), 2) AS avg_spend
    FROM tiled GROUP BY decile
    """,
)
def q_ntile_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-spend deciles via NTILE(10): the
    segmentation query behind "top 10% of customers drive X% of
    revenue". Per-decile headcount and min/max/avg spend.

    Scale: orders reduce to one cent-exact row per customer first
    (two-phase hash aggregate), so NTILE ranks customers, not orders.
    NTILE needs a global total ordering — which is exactly what this
    query is FOR — but since round 6 the ordering is the
    range-partitioned decomposition (distwindows.global_rank: quantile
    split points → bucket-partitioned row_number + <=64-row prefix
    offsets), not a single-task unpartitioned window; the decile then
    falls out of exact (rank, n) arithmetic (ntile_from_rank). The
    (spend DESC, custkey) tie-break makes bucket boundaries
    deterministic on both engines; same oracle, same rows, scalable
    plan. The final aggregate collapses to 10 rows, cent-summed before
    dividing so avg_spend can't drift."""
    from presto_cached_examples_spark.operators.distwindows import (
        global_rank,
        ntile_from_rank,
        range_splits,
    )

    def checkpointed_spend():
        o = load_table(spark, sf_dir, "orders")
        spend = o.groupBy("o_custkey").agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")) / 100.0
            ).alias("spend")
        )
        spend = spend.localCheckpoint(eager=False)
        return spend, range_splits(spend, "spend")

    # Lazy checkpoint + split points, memoized together per (session,
    # sf): the base materializes inside whichever action touches it
    # first (the sampling pass), and split points shape only the
    # global_rank plan, never the (rank, n) values. A new lazy
    # checkpoint on every build would run the upstream stages again
    # at build time under AQE, so warm builds reuse this one and run
    # no job.
    spend, splits = memo(spark, sf_dir, "ntile_spend", checkpointed_spend)
    ranked = global_rank(spend, "spend", "o_custkey", descending=True, splits=splits)
    tiled = ranked.select(
        "o_custkey",
        "spend",
        ntile_from_rank(F.col("rank"), F.col("n"), 10).alias("decile"),
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.min("spend"), 2).alias("min_spend"),
        F.round(F.max("spend"), 2).alias("max_spend"),
        F.round(
            F.sum(F.round(F.col("spend") * 100, 0).cast("long"))
            / 100.0
            / F.count(F.lit(1)),
            2,
        ).alias("avg_spend"),
    )


@register(
    "q_resample_interp",
    category="timeseries",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS revenue
      FROM orders GROUP BY day
    ),
    paired AS (
      SELECT day, revenue,
             lead(day)     OVER (ORDER BY day) AS next_day,
             lead(revenue) OVER (ORDER BY day) AS next_rev
      FROM daily
    )
    SELECT day + TO_MICROSECONDS(CAST(q AS BIGINT) * 21600000000) AS ts,
           ROUND(revenue + (next_rev - revenue) * q / 4.0, 4) AS revenue_interp
    FROM paired,
         UNNEST(CASE WHEN next_day = day + INTERVAL 1 DAY
                     THEN [0, 1, 2, 3] ELSE [0] END) AS t(q)
    """,
)
def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series upsampling: daily revenue resampled to a 6-hour grid
    with linear interpolation between adjacent observed days (the
    resample().interpolate() a forecasting pipeline feeds on). A day
    followed by a gap emits only its own observed point — interior
    grid points are never fabricated across missing days. Interpolation
    fractions are exact quarters of cent-exact day totals, so both
    engines compute bit-identical values.

    Scale: orders collapse to one cent-exact row per day first; the
    lead() window runs over the day series (domain-bounded — the
    q_window_frame argument), and the 4-point expansion is a map-side
    explode. Nothing is ever joined; output is 4x the day count."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")) / 100.0
        ).alias("revenue")
    )
    w = Window.orderBy("day")
    paired = daily.select(
        "day",
        "revenue",
        F.lead("day").over(w).alias("next_day"),
        F.lead("revenue").over(w).alias("next_rev"),
    )
    adjacent = F.col("next_day") == F.col("day") + F.expr("INTERVAL 1 DAY")
    q = F.explode(
        F.when(adjacent, F.array(F.lit(0), F.lit(1), F.lit(2), F.lit(3))).otherwise(
            F.array(F.lit(0))
        )
    ).alias("q")
    expanded = paired.select("day", "revenue", "next_rev", q)
    return expanded.select(
        (
            F.col("day")
            + F.make_dt_interval(hours=F.col("q") * 6)
        ).alias("ts"),
        F.round(
            F.col("revenue") + (F.col("next_rev") - F.col("revenue")) * F.col("q") / 4.0,
            4,
        ).alias("revenue_interp"),
    )


@register(
    "q_winsorize",
    category="aggregation",
    oracle="""
    WITH oc AS (
      SELECT c.c_mktsegment AS mktsegment,
             CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    th AS (
      SELECT mktsegment,
             quantile_cont(cents, 0.05) AS lo,
             quantile_cont(cents, 0.95) AS hi
      FROM oc GROUP BY mktsegment
    )
    SELECT oc.mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(oc.cents) / 100.0 / COUNT(*), 2) AS avg_raw,
           ROUND(SUM(GREATEST(th.lo, LEAST(th.hi, oc.cents)))
                 / 100.0 / COUNT(*), 2) AS avg_winsorized,
           ROUND(th.lo / 100.0, 2) AS p05,
           ROUND(th.hi / 100.0, 2) AS p95
    FROM oc JOIN th ON th.mktsegment = oc.mktsegment
    GROUP BY oc.mktsegment, th.lo, th.hi
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust averages per market segment: order totals
    clamped to each segment's [P05, P95] before averaging — the
    outlier-robust KPI treatment (a whale order no longer moves the
    segment mean). Reports raw vs winsorized averages and the clamp
    thresholds.

    Scale: two passes over the (segment, cents) pairs — one percentile
    aggregate per segment (exact, in integer cent space so the
    interpolated thresholds are multiples of 0.25 on both engines — the
    q_agg_percentiles discipline), then the thresholds broadcast back
    for the map-side clamp + final aggregate. At 100 TB the threshold
    pass swaps to approx_percentile (mergeable sketch) without touching
    the clamp leg. Clamped cent sums stay exact in doubles (< 2^53),
    so ROUND after the divide is deterministic."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    oc = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    th = oc.groupBy("mktsegment").agg(
        F.percentile(
            F.col("cents"), F.array(F.lit(0.05), F.lit(0.95))
        ).alias("qs")
    ).select(
        F.col("mktsegment").alias("th_seg"),
        F.element_at("qs", 1).alias("lo"),
        F.element_at("qs", 2).alias("hi"),
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents")))
    return (
        oc.join(F.broadcast(th), oc.mktsegment == th.th_seg)
        .groupBy("mktsegment", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("cents") / 100.0 / F.count(F.lit(1)), 2).alias(
                "avg_raw"
            ),
            F.round(F.sum(clamped) / 100.0 / F.count(F.lit(1)), 2).alias(
                "avg_winsorized"
            ),
        )
        .select(
            "mktsegment",
            "n_orders",
            "avg_raw",
            "avg_winsorized",
            F.round(F.col("lo") / 100.0, 2).alias("p05"),
            F.round(F.col("hi") / 100.0, 2).alias("p95"),
        )
    )


register_sql(
    "q_agg_mode",
    category="aggregation",
    oracle="""
    WITH cnt AS (
      SELECT p_type, p_brand, COUNT(*) AS n FROM part GROUP BY p_type, p_brand
    ),
    r AS (
      SELECT p_type, p_brand, n,
             ROW_NUMBER() OVER (
               PARTITION BY p_type ORDER BY n DESC, p_brand
             ) AS rn
      FROM cnt
    )
    SELECT p_type, p_brand AS mode_brand, n AS n_parts FROM r WHERE rn = 1
    """,
)


register_sql(
    "q_regression_elasticity",
    category="aggregation",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(REGR_SLOPE(l.l_quantity, l.l_discount), 4) AS qty_per_discount,
           ROUND(REGR_INTERCEPT(l.l_quantity, l.l_discount), 4) AS base_qty,
           ROUND(CORR(l.l_quantity, l.l_discount), 4) AS fit_corr
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)


#: Poisson(1) inverse-CDF thresholds (cumulative e^{-1}/k! for k=0..5,
#: capped at 6). Fixed decimal literals so both engines draw the
#: identical weight from the identical md5 uniform.
_POIS1_CUM = (0.36787944, 0.73575888, 0.91969860, 0.98101184,
              0.99634015, 0.99940582)
_BOOT_B = 32


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS1_CUM)
    )
    return f"CASE {branches} ELSE 6 END"


@register(
    "q_bootstrap_ci",
    category="aggregation",
    oracle=f"""
    WITH draws AS (
      SELECT b.b,
             {_pois_case_sql(
                 "((('0x' || substr(md5(o_orderkey || '-' || (b.b // 4)),"
                 " (b.b % 4) * 8 + 1, 8))::BIGINT) / 4294967296.0)")} AS w,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders, (SELECT UNNEST(range(0, {_BOOT_B})) AS b) b
    ),
    means AS (
      SELECT b, SUM(w * cents) * 1.0 / SUM(w) / 100.0 AS m
      FROM draws GROUP BY b
    )
    SELECT CAST({_BOOT_B} AS INT) AS n_resamples,
           ROUND(AVG(m), 2) AS boot_mean,
           ROUND(quantile_cont(m, 0.025), 2) AS ci_lo,
           ROUND(quantile_cont(m, 0.975), 2) AS ci_hi
    FROM means
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value —
    THE distributed bootstrap: instead of resampling rows with
    replacement (impossible without a global index), every row draws
    an independent Poisson(1) weight per resample, which converges to
    the same distribution. Weights come from md5(orderkey, b) uniforms
    through fixed inverse-CDF thresholds, so all 32 resamples are
    bit-reproducible on every engine and every run.

    Scale: one map-side explode (x32) over the fact table feeding a
    32-cell aggregate; each md5 digest is sliced into FOUR 32-bit
    uniforms, so the hash work is 8 digests per row, not 32 — no shuffle proportional to data, no
    row-index coordination, which is exactly why this estimator exists
    (Chamandy et al., 'Estimating uncertainty for massive data
    streams', the standard production technique). Weighted sums stay
    in exact integer cents, so every resample mean is identical across
    engines before the final 2dp rounding."""
    o = spread(load_table(spark, sf_dir, "orders"), spark)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    # one md5 yields 128 bits = FOUR 32-bit uniforms: explode the 8
    # digest GROUPS first, hash once per group, then explode the 4
    # windows of each digest — 8 md5 evaluations per row instead of 32
    # (resample b = group*4 + window, so the oracle reads digest b//4
    # at window b%4)
    groups = o.select(
        "o_orderkey",
        cents.alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B // 4 - 1))).alias("g"),
    ).select(
        "cents",
        "g",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("-"),
                F.col("g").cast("string"),
            )
        ).alias("h"),
    )
    drawn = groups.select(
        "cents",
        "g",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("win"),
    ).select(
        (F.col("g") * 4 + F.col("win")).alias("b"),
        "cents",
        (
            F.conv(
                F.substring(F.col("h"), F.col("win") * 8 + 1, 8), 16, 10
            ).cast("long")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    w = F.lit(6)
    for k in range(len(_POIS1_CUM) - 1, -1, -1):
        w = F.when(F.col("u") < _POIS1_CUM[k], k).otherwise(w)
    means = (
        drawn.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            (F.sum(F.col("w") * F.col("cents")) * 1.0 / F.sum("w") / 100.0).alias("m")
        )
    )
    return means.agg(
        F.lit(_BOOT_B).cast("int").alias("n_resamples"),
        F.round(F.avg("m"), 2).alias("boot_mean"),
        F.round(F.percentile(F.col("m"), F.lit(0.025)), 2).alias("ci_lo"),
        F.round(F.percentile(F.col("m"), F.lit(0.975)), 2).alias("ci_hi"),
    )


_WILSON_Z = 1.96  # 95% two-sided normal quantile


register_sql(
    "q_returns_wilson",
    category="analytics",
    oracle=f"""
    WITH r AS (
      SELECT n.n_name AS nation,
             COUNT(*) AS n_items,
             CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name
    )
    SELECT nation, n_items, n_returned,
           ROUND(p, 4) AS p_hat,
           ROUND((p + z * z / (2 * n_items)
                  - z * SQRT(p * (1 - p) / n_items
                             + z * z / (4.0 * n_items * n_items)))
                 / (1 + z * z / n_items), 4) AS ci_lo,
           ROUND((p + z * z / (2 * n_items)
                  + z * SQRT(p * (1 - p) / n_items
                             + z * z / (4.0 * n_items * n_items)))
                 / (1 + z * z / n_items), 4) AS ci_hi
    FROM (
      SELECT r.*, CAST(n_returned AS DOUBLE) / n_items AS p,
             CAST({_WILSON_Z} AS DOUBLE) AS z
      FROM r
    ) s
    """,
)
