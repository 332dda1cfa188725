"""Behavioral analytics over the events stream: funnels and cohort
retention — the product-analytics queries an events table exists for.

Both are pure multi-stage aggregations (no windows over raw rows, no
pair joins): each stage reduces to per-user scalars before anything is
joined, so shuffle volume is O(users), not O(events), and every join
key (user_id) is uniform. At 100 TB these plans hold: the funnel is
three filtered aggregates chained by broadcast-size per-user rows, and
retention is two aggregates plus a count-distinct on (cohort, week).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import register, register_sql
from presto_cached_examples_spark.plans.artifacts import memo
from presto_cached_examples_spark.sources.catalog import load_table


register_sql(
    "q_events_funnel",
    category="behavioral",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS tc
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.tv
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS tp
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.tc
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, 1 AS stage_no, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT 'click' AS stage, 2 AS stage_no, COUNT(*) AS n_users FROM c
    UNION ALL
    SELECT 'purchase' AS stage, 3 AS stage_no, COUNT(*) AS n_users FROM p
    """,
)


@register(
    "q_retention_cohort",
    category="behavioral",
    oracle="""
    WITH firsts AS (
      SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             DATE_TRUNC('week', e.ts) AS active_week
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week,
           DATE_DIFF('day', cohort_week, active_week) // 7 AS week_no,
           COUNT(*) AS n_users
    FROM activity
    GROUP BY cohort_week, week_no
    """,
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week,
    counted once per (cohort, weeks-since-cohort) they were active in.

    Two per-user aggregates and a distinct on (user, week) — shuffle
    keys are user_id then (cohort, week): uniform, low-cardinality
    output, no window over raw events."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", "ts").alias("active_week"),
        )
        .distinct()
    )
    week_no = F.floor(
        F.datediff(F.to_date("active_week"), F.to_date("cohort_week")) / 7
    ).cast("long")
    return activity.groupBy("cohort_week", week_no.alias("week_no")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


# Builder kept: as SQL at sf0.1, stages 2 -> 3 and shuffle write 4.8x (14,563 -> 69,911
# bytes): the daily tier re-aggregates raw events instead of the memoized hourly tier.
@register(
    "q_events_rollup",
    category="behavioral",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    daily AS (
      SELECT date_trunc('day', bucket) AS bucket, event_type,
             CAST(SUM(n) AS BIGINT) AS n,
             SUM(CAST(ROUND(sum_value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
      FROM hourly GROUP BY 1, 2
    )
    SELECT 'hour' AS res, bucket, event_type, n, sum_value FROM hourly
    UNION ALL
    SELECT 'day' AS res, bucket, event_type, n, sum_value FROM daily
    """,
)
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the continuous-aggregate /
    hypertable pattern): hourly partials per event type, then a daily
    tier derived FROM the hourly partials — never from raw events.

    Scale: this is the materialized-rollup discipline at 100 TB — the
    raw stream is aggregated once into hour grain (two-phase agg,
    shuffle keyed on (hour, type)); every coarser tier re-aggregates
    the previous tier, whose row count is bounded by the time/type
    domain (24x|types| rows per day), not by event volume."""
    # persist() IS the materialized-rollup step in miniature: without
    # it Catalyst expands the daily branch back to a second (and the
    # union to a fourth) scan+aggregate over raw events — the plan
    # tests assert the raw table is read exactly once. The cached tier
    # is domain-bounded (hours × event types), never event-volume, and
    # it is a session artifact: repeat builds share one relation instead
    # of pinning a fresh InMemoryRelation each, and artifacts.release
    # unpersists it.
    hourly = memo(
        spark,
        sf_dir,
        "hourly_tier",
        lambda: load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .persist(),
    )
    # The daily tier re-aggregates in integer cent space: the hourly
    # sum_value is already cent-quantized, so summing exact longs and
    # dividing once is drift-free on both engines (a double re-sum +
    # re-round can flip the 2nd decimal on .005 boundaries).
    daily = hourly.groupBy(
        F.date_trunc("day", "bucket").alias("bucket"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        (
            F.sum(F.round(F.col("sum_value") * 100, 0).cast("long")) / 100.0
        ).alias("sum_value"),
    )
    return hourly.select(F.lit("hour").alias("res"), "bucket", "event_type", "n", "sum_value").unionByName(
        daily.select(F.lit("day").alias("res"), "bucket", "event_type", "n", "sum_value")
    )


# Builder kept: the oracle's range join plans a BroadcastNestedLoopJoin of every
# (day, user) pair against every day, which test_rolling_wau_never_windows_raw_events
# forbids (at sf0.1 the SQL side still ran 6 stages, as the builder does).
@register(
    "q_rolling_wau",
    category="behavioral",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du)
    SELECT days.d AS day,
           COUNT(DISTINCT du.user_id) AS wau
    FROM days JOIN du
      ON du.d <= days.d AND du.d >= days.d - INTERVAL 6 DAY
    GROUP BY days.d
    """,
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the windowed COUNT DISTINCT
    a growth dashboard runs, which no window frame can express (DISTINCT
    doesn't decompose over sliding frames).

    Scale: raw events first collapse to distinct (day, user) pairs —
    two-phase agg, output bounded by users x days, orders of magnitude
    below event volume. Each pair then map-side-expands to the ≤7
    window days it covers (explode(sequence(d, d+6)) — O(7·pairs), no
    join at all; the round-3 range-join-against-a-day-spine formulation
    planned a BroadcastNestedLoopJoin that evaluated every pair against
    every spine day, O(pairs × days) compute at multi-year retention),
    and a plain hash count-distinct keyed on window day finishes. The
    tiny equi-join at the end only drops expansion days that don't
    exist in the data, matching the observed-days spine the dashboard
    (and the oracle) defines. Nothing ever windows raw events."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.date_trunc("day", "ts").alias("d"), "user_id").distinct()
    cover = du.select(
        F.explode(
            F.sequence(
                F.col("d"), F.col("d") + F.expr("INTERVAL 6 DAY"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day"),
        "user_id",
    )
    days = du.select(F.col("d").alias("day")).distinct()
    return (
        cover.groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .join(days, "day")
        .select("day", "wau")
    )


# Builder kept: as SQL the retained set is an equi-join on user_id under a range filter, with
# no map-side Generate explode, which test_rolling_retention_is_map_side_expansion pins.
@register(
    "q_rolling_retention",
    category="behavioral",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    act AS (SELECT d, COUNT(*) AS n_active FROM du GROUP BY d),
    ret AS (
      SELECT a.d, COUNT(DISTINCT a.user_id) AS n_retained
      FROM du a JOIN du b
        ON b.user_id = a.user_id AND b.d < a.d AND b.d >= a.d - INTERVAL 7 DAY
      GROUP BY a.d
    )
    SELECT act.d AS day,
           act.n_active,
           COALESCE(ret.n_retained, 0) AS n_retained,
           ROUND(CAST(COALESCE(ret.n_retained, 0) AS DOUBLE) / act.n_active, 4) AS retention
    FROM act LEFT JOIN ret ON ret.d = act.d
    """,
)
def q_rolling_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day retention per day: of the users active on day d,
    the fraction also active in [d-7, d-1] — the growth dashboard's
    companion to q_rolling_wau.

    Scale: same map-side-expansion discipline as the WAU rewrite — each
    distinct (day, user) pair explodes to the 7 FOLLOWING days it
    counts as "previously active" for (O(7·pairs), no range join, no
    BNLJ); a distinct collapses multi-day coverage, and a plain
    equi-join against the same-day active pairs + two hash aggregates
    finish. The oracle states the same set as a range self-join, which
    is fine at DuckDB's gate scale and wrong at 100 TB — the docstring
    IS the design note on why the shapes differ."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.date_trunc("day", "ts").alias("d"), "user_id").distinct()
    cover = du.select(
        F.explode(
            F.sequence(
                F.col("d") + F.expr("INTERVAL 1 DAY"),
                F.col("d") + F.expr("INTERVAL 7 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "user_id",
    ).distinct()
    same_day = du.select(F.col("d").alias("day"), "user_id")
    ret = (
        cover.join(same_day, ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    act = du.groupBy(F.col("d").alias("day")).agg(F.count(F.lit(1)).alias("n_active"))
    n_ret = F.coalesce("n_retained", F.lit(0).cast("long"))
    return act.join(ret, "day", "left").select(
        "day",
        "n_active",
        n_ret.alias("n_retained"),
        F.round(n_ret * 1.0 / F.col("n_active"), 4).alias("retention"),
    )


# Builder kept: the query is the HLL sketch merge; its oracle states only the exact
# count, through the same BroadcastNestedLoopJoin as q_rolling_wau's.
@register(
    "q_rolling_wau_approx",
    category="behavioral",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du)
    SELECT days.d AS day,
           COUNT(DISTINCT du.user_id) AS exact_wau,
           TRUE AS within_5pct
    FROM days JOIN du
      ON du.d <= days.d AND du.d >= days.d - INTERVAL 6 DAY
    GROUP BY days.d
    """,
)
def q_rolling_wau_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_rolling_wau's sketch path: one HLL sketch per day, 7-day WAU
    by MERGING the daily sketches — never re-touching raw events — with
    the estimate asserted within 5% of exact (q_agg_approx's
    accuracy-band pattern; HLL at default lgK has ~0.8% relative
    error, so the pinned-TRUE flag is deterministic per fixture).

    Scale: this is the production rolling-distinct design — daily
    sketches are a write-time artifact (one fixed-size blob per day),
    and any window [d-6, d] is answered by merging 7 blobs; the exact
    side here exists only to power the band check. Both tiers map-side
    expand each daily row to its ≤7 covering window days
    (explode(sequence)) and finish with a plain mergeable hash
    aggregate — no spine join (the round-3 range-join shape planned a
    BroadcastNestedLoopJoin, O(rows × days) compute). hll_sketch_agg /
    hll_union_agg are mergeable aggregates, so the daily tier builds
    map-side like any partial aggregation."""
    ev = load_table(spark, sf_dir, "events")

    def window_days(col: str):
        return F.explode(
            F.sequence(
                F.col(col), F.col(col) + F.expr("INTERVAL 6 DAY"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day")

    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    # |days| grain (the write-time sketch artifact); 2 consumers
    # (observed-day spine + the merge tier)
    days = daily.select(F.col("d").alias("day"))
    est = (
        daily.select(window_days("d"), "sk")
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_wau"))
    )
    du = ev.select(F.date_trunc("day", "ts").alias("d"), "user_id").distinct()
    exact = (
        du.select(window_days("d"), "user_id")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_wau"))
    )
    return (
        exact.join(est, "day")
        .join(days, "day")
        .select(
            "day",
            "exact_wau",
            (
                F.abs(F.col("est_wau") - F.col("exact_wau"))
                <= F.col("exact_wau") * 0.05
            ).alias("within_5pct"),
        )
    )


register_sql(
    "q_markov_transitions",
    category="behavioral",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    t AS (
      SELECT from_type, to_type, COUNT(*) AS n_transitions
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n_transitions,
           ROUND(CAST(n_transitions AS DOUBLE) /
                 SUM(n_transitions) OVER (PARTITION BY from_type), 4) AS prob
    FROM t
    """,
)


register_sql(
    "q_anomaly_zscore",
    category="behavioral",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS revenue
      FROM orders GROUP BY day
    ),
    scored AS (
      SELECT day, revenue,
             AVG(revenue) OVER w AS mu,
             STDDEV_SAMP(revenue) OVER w AS sigma,
             COUNT(*) OVER w AS n_prior
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, ROUND(revenue, 2) AS revenue,
           CASE WHEN n_prior >= 10 AND sigma > 0
                THEN ROUND((revenue - mu) / sigma, 3) END AS z_28,
           CASE WHEN n_prior >= 10 AND sigma > 0
                THEN ABS((revenue - mu) / sigma) > 2 END AS is_anomaly
    FROM scored
    """,
)


register_sql(
    "q_event_runs",
    category="behavioral",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS run_no
      FROM flagged
    )
    SELECT user_id, run_no, event_type,
           MIN(ts) AS run_start,
           MAX(ts) AS run_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, run_no, event_type
    """,
)


# Builder kept: as SQL at sf0.1, shuffle write +2.50% (39,900 -> 40,897 bytes) on the same
# 2-stage plan.
@register(
    "q_cdc_merge",
    category="behavioral",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id, event_type AS last_op, value AS state_value,
           ts AS updated_at
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog-to-snapshot compaction (the lakehouse MERGE INTO /
    CDC upsert shape): events are an ordered change stream per user;
    the current state table is each user's LATEST change, with users
    whose last change is a tombstone ('error') dropped entirely. The
    mirror of q_stream_dedup_late (first-wins) on the other end of the
    log.

    Scale: one hash partition on the merge key, one row_number pass,
    WindowGroupLimit pushes the rn=1 filter into the sort so each
    partition keeps one row per user rather than sorting the full log
    ahead of the filter. This is exactly how periodic compaction of a
    100 TB CDC feed runs: key-partitioned, no global sort, output
    bounded by |keys|. Unique (ts, event_id) makes latest-wins
    deterministic on both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("value").alias("state_value"),
            F.col("ts").alias("updated_at"),
        )
    )


register_sql(
    "q_attribution_linear",
    category="behavioral",
    oracle="""
    WITH purch AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_type, ts AS t_ts
      FROM events WHERE event_type IN ('click', 'view')
    ),
    joined AS (
      SELECT p.p_id, p.value, t.event_type
      FROM purch p
      JOIN touch t ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
    ),
    weighted AS (
      SELECT p_id, value, event_type,
             COUNT(*) OVER (PARTITION BY p_id) AS n_touch
      FROM joined
    )
    SELECT event_type,
           COUNT(*) AS n_touches,
           COUNT(DISTINCT p_id) AS n_purchases,
           ROUND(SUM(value / n_touch), 2) AS attributed_value
    FROM weighted
    GROUP BY event_type
    """,
)


@register(
    "q_rfm_segments",
    category="behavioral",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                       DATE '2001-08-01') AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, monetary,
             NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey)  AS f_score,
             NTILE(5) OVER (ORDER BY monetary DESC, o_custkey)   AS m_score
      FROM rfm
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           ROUND(SUM(CAST(ROUND(monetary * 100, 0) AS BIGINT)) / 100.0, 2)
             AS total_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers scored 1-5 on Recency (days since
    last order, anchored at the fixture horizon), Frequency (order
    count) and Monetary (cent-exact lifetime spend), then counted per
    (R,F,M) cell — the classic CRM segmentation cube (<=125 cells).

    Scale: orders reduce to one row per customer first (two-phase hash
    aggregate), so the three NTILE rankings rank customers, not orders.
    Since round 6 each ranking runs through the range-partitioned
    decomposition (distwindows.global_rank — quantile split points,
    bucket-partitioned row_number, <=64-row prefix offsets) instead of
    a single-task unpartitioned window; the quintile falls out of
    exact (rank, n) arithmetic. The customer-grain relation is
    localCheckpoint-ed (the q_text_pmi pattern): without it the
    three ranking branches re-scan and re-aggregate orders per branch
    (14 parquet scans in the static plan — fatal at 100 TB); with it,
    every branch reads the one materialized base. Split points for
    all three metrics come from ONE multi-column approxQuantile pass,
    and the three rankings run as INDEPENDENT branches joined back on
    custkey — parallel stage trees instead of a serial 3-exchange
    chain (measured ~1.5x faster at sf0.1, same rows). Explicit
    custkey tie-breaks pin every quintile boundary; monetary stays
    integer cents until the final ROUND."""
    from presto_cached_examples_spark.operators.distwindows import (
        global_rank,
        ntile_from_rank,
        range_splits,
    )

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-08-01").cast("date"), F.max("o_orderdate").cast("date")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(cents) / 100.0).alias("monetary"),
    )
    # Lazy checkpoint (round 15): eager=True forced a sequential
    # build-time materialization job on every plan build; lazily the
    # base materializes inside whichever action touches it first (the
    # memoized approxQuantile on first build, the query's own action
    # after) and all four consumers still share the one artifact.
    rfm = rfm.localCheckpoint(eager=False)
    # Split points memoized per (session, sf) under the build-time-
    # action contract: splits shape only the plan — global_rank's
    # (rank, n) is exact for ANY split set — so reusing them changes no
    # value, and warm builds skip the sampling action.
    all_splits = memo(
        spark,
        sf_dir,
        "rfm_splits",
        lambda: range_splits(rfm, ["recency_days", "frequency", "monetary"]),
    )
    scores = []
    for (col, desc, out), col_splits in zip(
        (
            ("recency_days", False, "r_score"),
            ("frequency", True, "f_score"),
            ("monetary", True, "m_score"),
        ),
        all_splits,
    ):
        ranked = global_rank(
            rfm.select("o_custkey", col),
            col,
            "o_custkey",
            descending=desc,
            splits=col_splits,
        )
        scores.append(
            ranked.select(
                "o_custkey", ntile_from_rank(F.col("rank"), F.col("n"), 5).alias(out)
            )
        )
    scored = rfm.select("o_custkey", "monetary")
    for s in scores:
        scored = scored.join(s, "o_custkey")
    scored = scored.select("monetary", "r_score", "f_score", "m_score")
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum(F.round(F.col("monetary") * 100, 0).cast("long")) / 100.0, 2
        ).alias("total_monetary"),
    )


_PATH_GAP_MIN = 30  # session silence threshold, matches q_sessionize


register_sql(
    "q_path_trigrams",
    category="behavioral",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL {_PATH_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_no
      FROM marked
    ),
    tri AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER s AS e2,
             lead(event_type, 2) OVER s AS e3
      FROM sess
      WINDOW s AS (PARTITION BY user_id, session_no ORDER BY ts, event_id)
    ),
    cnt AS (
      SELECT e1, e2, e3, COUNT(*) AS n_paths
      FROM tri WHERE e3 IS NOT NULL
      GROUP BY e1, e2, e3
    )
    SELECT e1, e2, e3, n_paths,
           ROUND(CAST(n_paths AS DOUBLE) / SUM(n_paths) OVER (), 4) AS path_share
    FROM cnt
    """,
)


register_sql(
    "q_pareto_half",
    category="behavioral",
    oracle="""
    WITH spend AS (
      SELECT c.c_mktsegment AS mktsegment, o.o_custkey,
             SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    ranked AS (
      SELECT mktsegment, cents,
             ROW_NUMBER() OVER w AS rn,
             SUM(cents) OVER (
               PARTITION BY mktsegment ORDER BY cents DESC, o_custkey
               ROWS UNBOUNDED PRECEDING
             ) AS cum_cents,
             SUM(cents) OVER (PARTITION BY mktsegment) AS total_cents,
             COUNT(*) OVER (PARTITION BY mktsegment) AS n_customers
      FROM spend
      WINDOW w AS (PARTITION BY mktsegment ORDER BY cents DESC, o_custkey)
    )
    SELECT mktsegment,
           CAST(MIN(CASE WHEN cum_cents * 2 >= total_cents THEN rn END)
                AS BIGINT) AS n_to_half,
           MAX(n_customers) AS n_customers,
           ROUND(CAST(MIN(CASE WHEN cum_cents * 2 >= total_cents THEN rn END)
                      AS DOUBLE) / MAX(n_customers), 4) AS concentration
    FROM ranked GROUP BY mktsegment
    """,
)


register_sql(
    "q_cdc_scd2",
    category="behavioral",
    oracle="""
    SELECT user_id,
           event_type AS state,
           value AS state_value,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           lead(ts) OVER w IS NULL AS is_current,
           CAST(ROW_NUMBER() OVER w AS INT) AS version
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)


@register(
    "q_cohort_ltv",
    category="behavioral",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    facts AS (
      SELECT f.cohort,
             CAST(datediff('month', f.cohort,
                           date_trunc('month', o.o_orderdate)) AS INT)
               AS month_age,
             o.o_custkey,
             CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    ),
    agg AS (
      SELECT cohort, month_age,
             COUNT(DISTINCT o_custkey) AS n_active,
             SUM(cents) AS cents
      FROM facts GROUP BY cohort, month_age
    )
    SELECT cohort, month_age, n_active,
           ROUND(cents / 100.0, 2) AS revenue,
           ROUND(SUM(cents) OVER (
             PARTITION BY cohort ORDER BY month_age
             ROWS UNBOUNDED PRECEDING
           ) / 100.0, 2) AS cum_revenue
    FROM agg
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue tracked by months-since-acquisition, with the
    running cumulative — the LTV table growth teams read payback
    periods off. The revenue-sided sibling of q_retention_cohort's
    activity matrix.

    Scale: first-order months are a per-customer aggregate; the fact
    join keys on customer (uniform); the (cohort, month_age) aggregate
    is calendar-bounded (months x ages cells). The cumulative window
    runs over that tiny matrix, in exact integer cents until the final
    ROUND. At 100 TB every stage is a standard two-phase aggregate —
    the count-distinct is the only state that grows, and it swaps to
    approx_count_distinct the way q_rolling_wau_approx documents."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    facts = o.join(firsts, "o_custkey").select(
        "cohort",
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")), F.col("cohort")
        )
        .cast("int")
        .alias("month_age"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    agg = facts.groupBy("cohort", "month_age").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("cents").alias("cents"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("month_age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        "cohort",
        "month_age",
        "n_active",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.sum("cents").over(w) / 100.0, 2).alias("cum_revenue"),
    )


# Builder kept: the per-day segmented prefix sum is the point. As SQL at sf0.1 it runs in
# 3 stages against 6, but the sweep becomes one unpartitioned window over every
# session boundary, which test_concurrency_sweep_is_day_partitioned forbids.
@register(
    "q_concurrency_peak",
    category="behavioral",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL {_PATH_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_no,
             ts
      FROM marked
    ),
    iv AS (
      SELECT user_id, session_no, MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY user_id, session_no
    ),
    pts AS (
      SELECT s AS ts, 1 AS delta, user_id, session_no FROM iv
      UNION ALL
      SELECT e AS ts, -1 AS delta, user_id, session_no FROM iv
    ),
    run AS (
      SELECT ts, delta,
             SUM(delta) OVER (
               ORDER BY ts, delta DESC, user_id, session_no
               ROWS UNBOUNDED PRECEDING
             ) AS concurrent
      FROM pts
    )
    SELECT date_trunc('day', ts) AS day,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions_started
    FROM run GROUP BY day
    """,
)
def q_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the classic interval-overlap
    sweep: each session becomes a +1 at its start and a -1 at its end,
    the running sum of deltas IS the live-session count, and the daily
    max is the capacity-planning number. Starts sort before ends at
    equal timestamps (delta DESC), so two sessions touching at an
    instant count as overlapping.

    Scale: sessions reduce events to two ids-only delta rows each, and
    the sweep is the SEGMENTED two-pass prefix sum: each day runs its
    own partitioned running sum, per-day delta totals (a
    calendar-bounded relation) take one tiny ordered window to become
    carried-forward offsets, and offset + within-day sum reproduces
    the global running count exactly — no unpartitioned window ever
    touches the boundary stream (the 30x scale probe showed the
    single-window form going 14.8x; this is the fix its docstring
    promised). The deterministic (ts, delta, user, session) order pins
    every tie on both engines; day boundaries respect ts order, so
    segmentation cannot reorder the sweep."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    is_start = F.when(
        gap_us.isNull() | (gap_us > _PATH_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = ev.select("user_id", "ts", "event_id", is_start.alias("is_start")).withColumn(
        "session_no",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    iv = sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    pts = iv.select(
        F.col("s").alias("ts"), F.lit(1).alias("delta"), "user_id", "session_no"
    ).unionByName(
        iv.select(
            F.col("e").alias("ts"), F.lit(-1).alias("delta"), "user_id", "session_no"
        )
    )
    pts = pts.withColumn("day", F.date_trunc("day", "ts"))
    wday = Window.partitionBy("day").orderBy(
        "ts", F.col("delta").desc(), "user_id", "session_no"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    within = pts.withColumn("within", F.sum("delta").over(wday))
    day_totals = pts.groupBy("day").agg(F.sum("delta").alias("day_total"))
    woff = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = day_totals.select(
        "day", F.coalesce(F.sum("day_total").over(woff), F.lit(0)).alias("off")
    )
    run = within.join(F.broadcast(offsets), "day").withColumn(
        "concurrent", F.col("off") + F.col("within")
    )
    return run.groupBy("day").agg(
        F.max("concurrent").cast("long").alias("peak_concurrent"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_sessions_started"),
    )


# Builder kept: as SQL at sf0.1, stages 12 -> 13 (shuffle write equal, 27,650 bytes).
@register(
    "q_funnel_windowed",
    category="behavioral",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS tc
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.tv AND e.ts <= v.tv + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS tp
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.tc AND e.ts <= c.tc + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_1h,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_24h,
           ROUND((SELECT COUNT(*) FROM p) * 1.0
                 / (SELECT COUNT(*) FROM v), 4) AS full_conversion
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: first view → first click within
    ONE HOUR of it → first purchase within 24 HOURS of that click.
    q_events_funnel's unbounded ordering says 'eventually converted';
    the windowed form says 'converted while the intent was live' — the
    number a campaign is actually judged on.

    Scale: identical to q_events_funnel's design — each stage reduces
    to one scalar per user BEFORE the next stage joins it (per-user
    rows, uniform key, broadcast-sized stage outputs), with the time
    bound as a join predicate so state stays capped exactly like the
    interval joins. Final counts are three 1-row aggregates."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("tv"))
            & (F.col("ts") <= F.col("tv") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("tc"))
            & (F.col("ts") <= F.col("tc") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewed"))
    nc = c.agg(F.count(F.lit(1)).alias("n_clicked_1h"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchased_24h"))
    return (
        nv.join(F.broadcast(nc))
        .join(F.broadcast(np_))
        .select(
            F.col("n_viewed").cast("long").alias("n_viewed"),
            F.col("n_clicked_1h").cast("long").alias("n_clicked_1h"),
            F.col("n_purchased_24h").cast("long").alias("n_purchased_24h"),
            F.round(
                F.col("n_purchased_24h") * 1.0 / F.col("n_viewed"), 4
            ).alias("full_conversion"),
        )
    )


_BASKET_MIN_PAIR = 2  # minimum pair support (co-ordered baskets)
_BASKET_TOPN = 50
#: Per-basket item cap before pair expansion: a basket keeps only its
#: first `_BASKET_CAP` items in deterministic hash-sample order
#: (md5(part id), id — order-uncorrelated with ids), so the map-side
#: |b|^2/2 pair HOF is bounded at CAP^2/2 per row no matter how jumbo
#: the basket — the classic A-Priori jumbo-basket failure (a B2B order
#: with 1e4+ distinct parts makes a multi-GB struct array inside ONE
#: task) and the classic production fix (VERDICT r7 item 3). Item
#: supports and the basket total stay EXACT (computed pre-cap — only
#: pair counts are subsampled); the output carries the global
#: n_truncated_baskets count so the approximation is visible, never
#: silent. Bias direction (ADVICE r8): pair counts from capped baskets
#: divided by exact pre-cap supports make confidence_bp/lift_bp a
#: CONSERVATIVE UNDERESTIMATE for any rule whose items appear in
#: truncated baskets — a rule can only lose co-occurrences to the cap,
#: never gain them — so top-50 membership can differ from exact
#: A-Priori near the boundary (false negatives only, never inflated
#: rules). The oracle replays the identical cap, so the driver gate
#: verifies the capped semantics, not the exact ones. 8 sits above the fixture p50 basket (TPC-H orders hold <= 7
#: lineitems, but distinct-part baskets reach 13-17 at sf0.01/0.1), so
#: the cap BITES at fixture scale and the driver's hash gate verifies
#: the capped semantics; production retunes it from basket-size stats.
_BASKET_CAP = 8


@register(
    "q_basket_rules",
    category="behavioral",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM b),
    item AS (SELECT l_partkey AS p, COUNT(*) AS np FROM b GROUP BY l_partkey),
    rk AS (
      SELECT l_orderkey, l_partkey,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey
               ORDER BY md5(CAST(l_partkey AS VARCHAR)), l_partkey
             ) AS rn
      FROM b
    ),
    trunc AS (
      SELECT COUNT(*) AS n_truncated_baskets
      FROM (SELECT l_orderkey FROM rk GROUP BY l_orderkey HAVING MAX(rn) > {_BASKET_CAP})
    ),
    bc AS (SELECT l_orderkey, l_partkey FROM rk WHERE rn <= {_BASKET_CAP}),
    pair AS (
      SELECT x.l_partkey AS pa, y.l_partkey AS pb, COUNT(*) AS nab
      FROM bc x JOIN bc y
        ON y.l_orderkey = x.l_orderkey AND y.l_partkey > x.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_BASKET_MIN_PAIR}
    ),
    rules AS (
      SELECT pa AS antecedent, pb AS consequent, nab FROM pair
      UNION ALL
      SELECT pb AS antecedent, pa AS consequent, nab FROM pair
    )
    SELECT r.antecedent, r.consequent,
           CAST(r.nab AS BIGINT) AS n_both,
           CAST(FLOOR(r.nab * 10000.0 / ia.np + 0.5) AS INT) AS confidence_bp,
           CAST(FLOOR((r.nab * 1.0) * n.n_baskets / (ia.np * ic.np) * 10000.0 + 0.5)
                AS BIGINT) AS lift_bp,
           CAST(t.n_truncated_baskets AS BIGINT) AS n_truncated_baskets
    FROM rules r
    JOIN item ia ON ia.p = r.antecedent
    JOIN item ic ON ic.p = r.consequent
    CROSS JOIN n
    CROSS JOIN trunc t
    ORDER BY lift_bp DESC, antecedent, consequent
    LIMIT {_BASKET_TOPN}
    """,
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal & Srikant 1994 shape)
    with a PER-BASKET ITEM CAP: treat each order as a basket of
    distinct parts, cap each basket at its first {c} items in
    deterministic (md5(id), id) hash-sample order, mine pairs with
    support >= {m} baskets among the kept items, and emit both rule
    directions with confidence and lift in integer basis points —
    top {t} by lift (deterministic tie-break) — plus the global count
    of truncated baskets so the subsampling is visible in the output.

    Scale: baskets collapse to per-order sorted part SETS in one
    shuffle; pairs expand MAP-SIDE from each CAPPED set (the
    copurchase_pairs HOF formulation — measured ~3x cheaper than the
    self-join at sf0.1), so the quadratic term is bounded at {c}^2/2
    per row: a jumbo B2B basket with 1e5 distinct parts costs {c}
    struct entries, not a multi-GB array inside one task (VERDICT r7
    item 3). Item supports and the basket total stay EXACT (pre-cap);
    only pair counts are hash-subsampled, and n_truncated_baskets
    reports how many baskets were clipped. Ratios are
    FLOOR(x*10000+0.5) basis points — integer-count quotients can land
    on true decimal ties that ROUND(double) resolves differently per
    engine (ADVICE r7); top-{t} plans as TakeOrderedAndProject on the
    integer lift_bp.

    Reference provenance: C7 derived summary tables
    (/root/reference/README.md:3-6)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ps = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    ps = ps.localCheckpoint(eager=False)  # feeds globals, item supports, pairs
    # n_baskets and n_truncated_baskets are both global aggregates over
    # ps: fusing them into ONE 1-row relation halves the broadcast-build
    # jobs (round 16, guide §2.4 — was two sequential broadcasts).
    glob = ps.agg(
        F.count(F.lit(1)).alias("n_baskets"),
        F.sum(F.when(F.size("ps") > _BASKET_CAP, 1).otherwise(0))
        .cast("long")
        .alias("n_truncated_baskets"),
    )
    item = ps.select(F.explode("ps").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).alias("np")
    )
    # keep the first _BASKET_CAP items per basket in (md5(id), id)
    # order, then re-sort the kept ids so the pa<pb pair HOF below
    # stays valid — all array-local, no extra shuffle
    kept_ids = F.array_sort(
        F.transform(
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("ps"),
                        lambda p: F.struct(
                            F.md5(p.cast("string")).alias("h"), p.alias("p")
                        ),
                    )
                ),
                1,
                _BASKET_CAP,
            ),
            lambda s: s.p,
        )
    )
    capped = ps.select(kept_ids.alias("ps"))
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pair = (
        capped.select(F.explode(pair_arr).alias("pr"))
        .select("pr.pa", "pr.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("nab"))
        .filter(F.col("nab") >= _BASKET_MIN_PAIR)
    )
    # Both rule directions EXPLODE from the single aggregated pair row
    # (round 16): the previous unionAll(pair, pair.swapped) planned the
    # whole explode+aggregate pair subtree twice — correct only as long
    # as AQE exchange reuse deduplicates it at runtime. The post-HAVING
    # pair relation is support-filtered (tiny), so this explode is free.
    rules = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("antecedent"),
                    F.col("pb").alias("consequent"),
                    F.col("nab"),
                ),
                F.struct(
                    F.col("pb").alias("antecedent"),
                    F.col("pa").alias("consequent"),
                    F.col("nab"),
                ),
            )
        ).alias("r")
    ).select("r.antecedent", "r.consequent", "r.nab")
    ia = item.select(F.col("p").alias("antecedent"), F.col("np").alias("na"))
    ic = item.select(F.col("p").alias("consequent"), F.col("np").alias("nc"))
    # item supports grow with the part domain; the support-filtered rule
    # rows do not, so the rules side is the one that broadcasts
    ra = ia.join(F.broadcast(rules), "antecedent")
    return (
        ic.join(F.broadcast(ra), "consequent")
        .join(F.broadcast(glob))
        .select(
            "antecedent",
            "consequent",
            F.col("nab").cast("long").alias("n_both"),
            F.floor(F.col("nab") * 10000.0 / F.col("na") + 0.5)
            .cast("int")
            .alias("confidence_bp"),
            F.floor(
                (F.col("nab") * F.lit(1.0))
                * F.col("n_baskets")
                / (F.col("na") * F.col("nc"))
                * 10000.0
                + 0.5
            )
            .cast("long")
            .alias("lift_bp"),
            "n_truncated_baskets",
        )
        .orderBy(F.col("lift_bp").desc(), "antecedent", "consequent")
        .limit(_BASKET_TOPN)
    )


q_basket_rules.__doc__ = q_basket_rules.__doc__.replace("{c}", str(_BASKET_CAP))


q_basket_rules.__doc__ = q_basket_rules.__doc__.replace(
    "{m}", str(_BASKET_MIN_PAIR)
).replace("{t}", str(_BASKET_TOPN))


def _basket_jumbo_probe(spark: SparkSession) -> int:
    """Bounded-task-memory probe used by tests: run the capped pair
    expansion over ONE synthetic jumbo basket (100k distinct items —
    the uncapped HOF would build a ~5e9-struct array in a single task)
    and return the pair count, which must be exactly
    C(_BASKET_CAP, 2)."""
    jumbo = spark.range(100_000).select(
        F.lit(1).alias("l_orderkey"), F.col("id").alias("l_partkey")
    )
    ps = jumbo.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    kept_ids = F.array_sort(
        F.transform(
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("ps"),
                        lambda p: F.struct(
                            F.md5(p.cast("string")).alias("h"), p.alias("p")
                        ),
                    )
                ),
                1,
                _BASKET_CAP,
            ),
            lambda s: s.p,
        )
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    return (
        ps.select(kept_ids.alias("ps"))
        .select(F.explode(pair_arr).alias("pr"))
        .count()
    )


_AC_MAX_LAG = 7


@register(
    "q_events_autocorr",
    category="behavioral",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS cnt
      FROM events GROUP BY event_type, d
    ),
    lagged AS (
      SELECT a.event_type, s.lag, a.cnt AS x, b.cnt AS y
      FROM daily a
      CROSS JOIN (SELECT UNNEST(generate_series(1, {_AC_MAX_LAG})) AS lag) s
      JOIN daily b
        ON b.event_type = a.event_type
       AND b.d = a.d + CAST(s.lag AS INT)
    )
    SELECT event_type, CAST(lag AS INT) AS lag,
           COUNT(*) AS n_pairs,
           ROUND(CORR(x, y), 4) AS autocorr
    FROM lagged GROUP BY event_type, lag
    """,
)
def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..{_AC_MAX_LAG} autocorrelation of each event type's daily
    count series (Pearson correlation of the series against itself
    shifted k days). The seasonality screen a capacity planner or
    anomaly-detector runs first: a weekly cycle shows up as a lag-7
    peak, a trending series as slowly-decaying positive lags, and a
    healthy Poisson stream as noise around zero.

    Scale: the raw stream collapses to the (type, day) aggregate
    FIRST — everything after runs on a relation bounded by
    |types| x |days| regardless of event volume. The lag fan-out is a
    bounded explode ({_AC_MAX_LAG} rows per day) and the shifted join
    keys on (type, day+k), both model-sized; CORR aggregates with
    partial combine. Rounds at 4 dp on both engines.

    Reference provenance: C8 periodic self-measurement
    (/root/reference/src/SinglePsramBuffer480x480.cpp:166-175 —
    per-stage frame timings emitted every frame; the history
    comparison is the engine-side generalization)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    daily = daily.localCheckpoint(eager=False)  # |types| x |days|; 2 consumers
    lags = daily.select(
        "event_type",
        "d",
        F.col("cnt").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(_AC_MAX_LAG))).alias("lag"),
    )
    shifted = daily.select(
        F.col("event_type").alias("event_type_b"),
        F.col("d").alias("d_b"),
        F.col("cnt").alias("y"),
    )
    pairs = lags.join(
        shifted,
        (F.col("event_type_b") == F.col("event_type"))
        & (F.col("d_b") == F.date_add("d", F.col("lag"))),
    )
    return pairs.groupBy("event_type", F.col("lag").cast("int").alias("lag")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.corr("x", "y"), 4).alias("autocorr"),
    )


q_events_autocorr.__doc__ = q_events_autocorr.__doc__.replace(
    "{_AC_MAX_LAG}", str(_AC_MAX_LAG)
)


_MAD_K = 1.4826  # normal-consistency constant
_MAD_MULT = 2.0  # flag beyond 2 robust sigmas


# Builder kept: as SQL at sf0.1, stages 3 -> 6 and shuffle write +1.27% (4,718 -> 4,778
# bytes).
@register(
    "q_events_mad",
    category="behavioral",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS d, COUNT(*) AS cnt
      FROM events GROUP BY event_type, d
    ),
    med AS (
      SELECT event_type, MEDIAN(cnt) AS med FROM daily GROUP BY event_type
    ),
    mad AS (
      SELECT d.event_type, ANY_VALUE(m.med) AS med,
             MEDIAN(ABS(d.cnt - m.med)) AS mad
      FROM daily d JOIN med m USING (event_type)
      GROUP BY d.event_type
    )
    SELECT d.event_type, d.d AS day, d.cnt,
           ROUND(s.med, 1) AS med,
           ROUND(s.mad, 1) AS mad,
           ROUND(ABS(d.cnt - s.med) / ({_MAD_K} * s.mad), 4) AS dev_ratio
    FROM daily d JOIN mad s USING (event_type)
    WHERE s.mad > 0
      AND ABS(d.cnt - s.med) > {_MAD_MULT} * {_MAD_K} * s.mad
    """,
)
def q_events_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly days per event type: median/MAD of the daily
    count series, flagging days whose deviation exceeds
    {_MAD_MULT} x {_MAD_K} x MAD (the 2-robust-sigma rule). The
    outage/incident screen q_anomaly_zscore's mean/stddev version is
    NOT safe to run on — one bad day inflates a stddev and hides
    itself, while the median/MAD pair stays anchored (50% breakdown
    point). Days divide by exact .0/.5 medians of integer counts, so
    both engines agree before any rounding.

    Scale: identical posture to q_events_autocorr — the only
    event-volume-proportional work is the first (type, day) aggregate;
    medians run per type over the bounded day series (exact
    percentile on a model-sized group, NOT a data-sized sort) as
    whole-partition WINDOW aggregates over the daily relation. (Round
    16: the previous shape localCheckpoint-ed daily and attached
    med/mad via two broadcast joins — a checkpoint materialization job
    plus two sequential broadcast-build jobs per run,
    plans/r16/q_events_mad_before.txt; the two same-key windows share
    ONE |types|-keyed exchange of the model-sized daily relation and
    run as a single linear job — guide §2.4. median-as-window is the
    same exact Median aggregate per type; the explicit type-not-null
    filter replays the inner joins' implicit null drop.)

    Reference provenance: C8 watchdog thresholds
    (/root/reference/src/SinglePsramBuffer480x480.cpp:166-175)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type")
    scored = daily.withColumn("med", F.median("cnt").over(w)).withColumn(
        "mad", F.median(F.abs(F.col("cnt") - F.col("med"))).over(w)
    )
    dev = F.abs(F.col("cnt") - F.col("med"))
    return (
        scored.filter(
            (F.col("mad") > 0) & (dev > _MAD_MULT * _MAD_K * F.col("mad"))
        )
        .select(
            "event_type",
            F.col("d").alias("day"),
            "cnt",
            F.round("med", 1).alias("med"),
            F.round("mad", 1).alias("mad"),
            F.round(dev / (_MAD_K * F.col("mad")), 4).alias("dev_ratio"),
        )
    )


q_events_mad.__doc__ = q_events_mad.__doc__.replace(
    "{_MAD_K}", str(_MAD_K)
).replace("{_MAD_MULT}", str(_MAD_MULT))


@register(
    "q_order_gaps",
    category="behavioral",
    oracle="""
    WITH g AS (
      SELECT c.c_mktsegment AS segment,
             datediff('day',
               LAG(o.o_orderdate) OVER (
                 PARTITION BY o.o_custkey
                 ORDER BY o.o_orderdate, o.o_orderkey),
               o.o_orderdate) AS gap
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    b AS (
      SELECT segment,
             CASE WHEN gap < 7 THEN 0
                  WHEN gap < 30 THEN 7
                  WHEN gap < 90 THEN 30
                  WHEN gap < 365 THEN 90
                  ELSE 365 END AS bucket_lo,
             COUNT(*) AS n_gaps
      FROM g WHERE gap IS NOT NULL
      GROUP BY segment, bucket_lo
    ),
    t AS (SELECT segment, SUM(n_gaps) AS total FROM b GROUP BY segment)
    SELECT b.segment, CAST(b.bucket_lo AS INT) AS bucket_lo, b.n_gaps,
           CAST(FLOOR(b.n_gaps * 10000.0 / t.total + 0.5) AS INT) AS share_bp
    FROM b JOIN t ON t.segment = b.segment
    """,
)
def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap distribution: days between a customer's
    consecutive orders, bucketed (0-6 / 7-29 / 30-89 / 90-364 / 365+)
    and shared out per market segment. The repeat-purchase cadence
    panel behind churn models and replenishment-reminder timing — the
    behavioral twin of q_retention_cohort that measures the WAIT
    rather than the return.

    Scale: the lag window partitions by customer (per-partition state
    = one row), keyed on the same custkey the orders-customer join
    shuffles on, so one exchange serves both; the histogram keys on
    (segment, bucket) — output bounded by 5 x 5 — and the share join
    broadcasts per-segment totals. Gaps are integer day diffs with an
    exact lag ordering tie-break (orderdate, orderkey), so both
    engines bucket identically; the share is FLOOR(x*10000+0.5)
    integer basis points — a quotient of integer counts can land on a
    true decimal tie that ROUND(double) resolves differently per
    engine (ADVICE r7).

    Reference provenance: C8 inter-event interval tracking
    (/root/reference/src/Elapsed.h:11-17 — each readout is the delta
    since the previous one)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    bucket = (
        F.when(F.col("gap") < 7, 0)
        .when(F.col("gap") < 30, 7)
        .when(F.col("gap") < 90, 30)
        .when(F.col("gap") < 365, 90)
        .otherwise(365)
    )
    b = g.groupBy("segment", bucket.cast("int").alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_gaps")
    )
    t = b.groupBy("segment").agg(F.sum("n_gaps").alias("total"))
    return b.join(F.broadcast(t), "segment").select(
        "segment",
        "bucket_lo",
        "n_gaps",
        F.floor(F.col("n_gaps") * 10000.0 / F.col("total") + 0.5)
        .cast("int")
        .alias("share_bp"),
    )


_EWMA_ALPHA = 0.3
_EWMA_FRAME = 27  # preceding days in the truncated recurrence


@register(
    "q_revenue_ewma",
    category="behavioral",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0
               AS revenue
      FROM orders GROUP BY day
    ),
    framed AS (
      SELECT day, revenue,
             LIST(revenue) OVER (
               ORDER BY day
               ROWS BETWEEN {_EWMA_FRAME} PRECEDING AND CURRENT ROW
             ) AS arr
      FROM daily
    )
    SELECT day, ROUND(revenue, 2) AS revenue,
           ROUND(list_reduce(arr,
                 (acc, x) -> {1 - _EWMA_ALPHA} * acc + {_EWMA_ALPHA} * x),
                 2) AS ewma,
           revenue > list_reduce(arr,
                 (acc, x) -> {1 - _EWMA_ALPHA} * acc + {_EWMA_ALPHA} * x)
             AS above_trend
    FROM framed
    """,
)
def q_revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily order revenue
    (alpha={_EWMA_ALPHA}, adjust=False recurrence s_t = (1-a)s_t-1 +
    a*x_t seeded at the frame head), truncated to a
    {_EWMA_FRAME}-preceding-day frame so the window state is bounded —
    the standard smoothed-trend line with an above/below-trend flag
    per day.

    Determinism: day totals are cent-summed longs (bit-identical across
    engines), and the EWMA is a LEFT-TO-RIGHT FOLD over the frame
    array — the identical IEEE multiply/add sequence on both engines —
    deliberately instead of POWER()-weighted sums, whose libm vs JVM
    pow can drift a ULP. Both the rounded ewma and the raw-comparison
    flag therefore match exactly.

    Scale: the raw stream collapses to the day spine first; the window
    is over that spine (|days| rows — the q_anomaly_zscore allowlist
    class) with O(frame) state per row. At a horizon where even the
    day spine is too long for one task, the day-segmented two-pass
    prefix trick of q_concurrency_peak applies unchanged.

    Reference provenance: C8 smoothed frame-time telemetry
    (/root/reference/src/SinglePsramBuffer480x480.cpp:166-175)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")) / 100.0
        ).alias("revenue")
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy("day").rowsBetween(-_EWMA_FRAME, 0)
    )
    framed = daily.select(
        "day", "revenue", F.collect_list("revenue").over(w).alias("arr")
    )
    ewma = F.aggregate(
        F.slice(F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0))),
        F.element_at(F.col("arr"), 1),
        lambda acc, x: (1 - _EWMA_ALPHA) * acc + _EWMA_ALPHA * x,
    )
    return framed.select(
        "day",
        F.round("revenue", 2).alias("revenue"),
        F.round(ewma, 2).alias("ewma"),
        (F.col("revenue") > ewma).alias("above_trend"),
    )


q_revenue_ewma.__doc__ = q_revenue_ewma.__doc__.replace(
    "{_EWMA_ALPHA}", str(_EWMA_ALPHA)
).replace("{_EWMA_FRAME}", str(_EWMA_FRAME))


register_sql(
    "q_seasonal_naive",
    category="behavioral",
    oracle="""
    WITH monthly AS (
      SELECT n.n_name AS nation,
             date_trunc('month', o.o_orderdate) AS month,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100.0 AS revenue
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY nation, month
    ),
    scored AS (
      SELECT m.nation, m.revenue, p.revenue AS forecast
      FROM monthly m
      JOIN monthly p
        ON p.nation = m.nation
       AND p.month + INTERVAL 12 MONTH = m.month
    )
    SELECT nation,
           COUNT(*) AS n_months,
           ROUND(AVG(ABS(revenue - forecast) / revenue), 4) AS mape,
           ROUND(AVG((revenue - forecast) / revenue), 4) AS bias
    FROM scored GROUP BY nation
    """,
)


_AB_Z = 1.96


@register(
    "q_ab_lift",
    category="behavioral",
    oracle=f"""
    WITH p AS (
      SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS grp,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    g AS (
      SELECT grp, COUNT(*) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             CAST(SUM(cents * cents) AS BIGINT) AS ss
      FROM p GROUP BY grp
    ),
    w AS (
      SELECT a.n AS n_a, b.n AS n_b,
             a.s / 100.0 / a.n AS mean_a,
             b.s / 100.0 / b.n AS mean_b,
             (a.ss / 10000.0 - (a.s / 100.0) * (a.s / 100.0) / a.n)
               / (a.n - 1) AS var_a,
             (b.ss / 10000.0 - (b.s / 100.0) * (b.s / 100.0) / b.n)
               / (b.n - 1) AS var_b
      FROM (SELECT * FROM g WHERE grp = 0) a
      CROSS JOIN (SELECT * FROM g WHERE grp = 1) b
    )
    SELECT n_a, n_b,
           ROUND(mean_a, 4) AS mean_a,
           ROUND(mean_b, 4) AS mean_b,
           ROUND(mean_b / mean_a - 1, 4) AS lift,
           ROUND((mean_b - mean_a) / SQRT(var_a / n_a + var_b / n_b), 3)
             AS z,
           ABS(ROUND((mean_b - mean_a) / SQRT(var_a / n_a + var_b / n_b), 3))
             > {_AB_Z} AS significant
    FROM w
    """,
)
def q_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B revenue-per-purchase test: users split 50/50 by md5(user_id)
    (the q_split_assign hash-bucket discipline — stable across runs and
    engines), Welch z-statistic on mean purchase value between arms,
    with lift and a significance flag at |z| > {_AB_Z}. The
    experimentation primitive every growth team runs hourly — here
    over a null split, so the expected reading IS no significance (the
    A/A-test calibration a platform validates itself with).

    Determinism: per-arm n / sum / sum-of-squares accumulate as EXACT
    cent longs (one overflow-safe pass; values are bounded so cents^2
    sums fit comfortably in 64 bits at any SF), and mean/variance/z
    derive per-row from those three integers — no floating-point
    accumulation ever crosses an engine boundary, so even the z-stat's
    last ULP agrees before its 3 dp rounding.

    Scale: one scan, one 2-group aggregate, one 1x1 cross join of the
    two arm rows. Nothing else.

    Reference provenance: C8 self-calibration readout
    (/root/reference/src/SinglePsramBuffer480x480.cpp:166-175)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    grp = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    g = ev.select(grp.alias("grp"), cents.alias("cents")).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    a = g.filter(F.col("grp") == 0).select(
        F.col("n").alias("n_a"), F.col("s").alias("s_a"), F.col("ss").alias("ss_a")
    )
    b = g.filter(F.col("grp") == 1).select(
        F.col("n").alias("n_b"), F.col("s").alias("s_b"), F.col("ss").alias("ss_b")
    )
    w = a.crossJoin(F.broadcast(b))
    mean_a = F.col("s_a") / 100.0 / F.col("n_a")
    mean_b = F.col("s_b") / 100.0 / F.col("n_b")
    var_a = (
        F.col("ss_a") / 10000.0
        - (F.col("s_a") / 100.0) * (F.col("s_a") / 100.0) / F.col("n_a")
    ) / (F.col("n_a") - 1)
    var_b = (
        F.col("ss_b") / 10000.0
        - (F.col("s_b") / 100.0) * (F.col("s_b") / 100.0) / F.col("n_b")
    ) / (F.col("n_b") - 1)
    z = (mean_b - mean_a) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return w.select(
        "n_a",
        "n_b",
        F.round(mean_a, 4).alias("mean_a"),
        F.round(mean_b, 4).alias("mean_b"),
        F.round(mean_b / mean_a - 1, 4).alias("lift"),
        F.round(z, 3).alias("z"),
        (F.abs(F.round(z, 3)) > _AB_Z).alias("significant"),
    )


q_ab_lift.__doc__ = q_ab_lift.__doc__.replace("{_AB_Z}", str(_AB_Z))


@register(
    "q_events_heatmap",
    category="behavioral",
    oracle="""
    WITH cells AS (
      SELECT CAST(isodow(ts) AS INT) AS dow,
             CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
             COUNT(*) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY dow, hour
    ),
    tot AS (SELECT SUM(n_events) AS total FROM cells)
    SELECT c.dow, c.hour, c.n_events, c.n_users,
           CAST(FLOOR(c.n_events * 10000.0 / t.total + 0.5) AS INT)
             AS share_bp
    FROM cells c CROSS JOIN tot t
    """,
)
def q_events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event and distinct-user counts per (ISO
    weekday, hour-of-day) cell with each cell's share of total
    traffic — the capacity-planning / on-call-staffing panel, and the
    visual sanity check that a fixture's 'uniform' event stream really
    is uniform. Two cross-engine traps sidestepped by construction:
    ISO weekday (weekday()+1 == isodow) because Spark's dayofweek()
    is Sunday-1-based while DuckDB's is Sunday-0-based; and the share
    is emitted as INTEGER basis points via FLOOR(x*10000 + 0.5) —
    ROUND(double) disagrees between engines on true decimal ties
    (Spark HALF_UPs the shortest decimal repr, DuckDB rounds the
    binary value: 565/100000 -> 0.0057 vs 0.0056, caught at sf0.1),
    while FLOOR of the identical IEEE expression cannot.

    Scale: one scan; the aggregate keys on a 7 x 24-bounded cell grid
    (two-phase, distinct-user expansion included), and the share join
    broadcasts a 1-row total. Session timezone is pinned UTC by the
    engine factory, so the hour bucket is deterministic.

    Reference provenance: C5 fixed-grid occupancy
    (/root/reference/src/PicoPlusPsram.cpp:31-58)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    tot = cells.agg(F.sum("n_events").alias("total"))
    return cells.join(F.broadcast(tot)).select(
        "dow",
        "hour",
        "n_events",
        "n_users",
        F.floor(F.col("n_events") * 10000.0 / F.col("total") + 0.5)
        .cast("int")
        .alias("share_bp"),
    )


_MMED_FRAME = 6  # preceding days: 7-day moving window


@register(
    "q_revenue_moving_median",
    category="behavioral",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0
               AS revenue
      FROM orders GROUP BY day
    )
    SELECT day, ROUND(revenue, 2) AS revenue,
           ROUND(MEDIAN(revenue) OVER (
             ORDER BY day
             ROWS BETWEEN {_MMED_FRAME} PRECEDING AND CURRENT ROW
           ), 2) AS med7,
           revenue > MEDIAN(revenue) OVER (
             ORDER BY day
             ROWS BETWEEN {_MMED_FRAME} PRECEDING AND CURRENT ROW
           ) AS above_median
    FROM daily
    """,
)
def q_revenue_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving MEDIAN of daily order revenue with an
    above/below flag — q_revenue_ewma's robust twin: one promo-spike
    day drags a mean-based trend for a week, while the median trend
    shrugs it off (the same median-vs-mean argument as q_events_mad,
    applied to the trend line instead of the outlier screen).

    Engine note: Spark's median() rejects window FRAMES, so the frame
    median is computed as collect_list over the frame -> array_sort ->
    exact midpoint (odd) / mean-of-middles (even) — which is precisely
    DuckDB's interpolating MEDIAN over the same frame. Day totals are
    cent-summed longs, and the midpoint mean of two exact values is
    the same IEEE op on both engines, so even the flag's raw
    comparison agrees.

    Scale: the stream collapses to the day spine first; the window is
    the q_anomaly_zscore allowlist class (|days| rows) with O(frame)
    state per row.

    Reference provenance: C8 smoothed telemetry, robust variant
    (/root/reference/src/SinglePsramBuffer480x480.cpp:166-175)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")) / 100.0
        ).alias("revenue")
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(-_MMED_FRAME, 0)
    arr = F.array_sort(F.collect_list("revenue").over(w))
    n = F.size(arr)
    mid_hi = F.floor(n / 2).cast("int") + 1  # 1-based upper middle
    mid_lo = F.floor((n + 1) / 2).cast("int")  # equals mid_hi when odd
    med = (F.element_at(arr, mid_lo) + F.element_at(arr, mid_hi)) / 2.0
    framed = daily.select("day", "revenue", med.alias("med7"))
    return framed.select(
        "day",
        F.round("revenue", 2).alias("revenue"),
        F.round("med7", 2).alias("med7"),
        (F.col("revenue") > F.col("med7")).alias("above_median"),
    )


register_sql(
    "q_priority_shift",
    category="behavioral",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             o_orderpriority AS prio,
             COUNT(*) AS c
      FROM orders GROUP BY month, prio
    ),
    t AS (SELECT month, SUM(c) AS tot FROM m GROUP BY month),
    cur AS (
      SELECT m.month, m.prio, m.c, t.tot
      FROM m JOIN t ON t.month = m.month
    ),
    shifted AS (
      SELECT c1.month, c1.prio,
             ABS(c1.c * c0.tot - c0.c * c1.tot) AS num,
             c1.tot * c0.tot AS den
      FROM cur c1
      JOIN cur c0
        ON c0.prio = c1.prio
       AND c0.month + INTERVAL 1 MONTH = c1.month
    ),
    ranked AS (
      SELECT month, prio, num, den,
             ROW_NUMBER() OVER (
               PARTITION BY month ORDER BY num DESC, prio) AS rl
      FROM shifted
    ),
    agg AS (
      -- den = t1*t0 is constant within a month: sum the INTEGER
      -- numerators, divide once — zero summation-order exposure
      SELECT month, COUNT(*) AS n_priorities,
             ROUND(CAST(SUM(num) AS DOUBLE) / ANY_VALUE(den), 4) AS l1_shift
      FROM shifted GROUP BY month
    )
    SELECT a.month, CAST(a.n_priorities AS INT) AS n_priorities,
           a.l1_shift,
           r.prio AS top_mover,
           ROUND(CAST(r.num AS DOUBLE) / r.den, 4) AS top_shift
    FROM agg a JOIN ranked r ON r.month = a.month AND r.rl = 1
    """,
)
