"""Streaming window queries (SURVEY.md §2.B q_stream_*).

Each streamable query is one plan function over an `events` frame
(`tumbling_counts`, `sliding_counts`, `sessions`, `interval_pairs`,
`interval_left`, `enrich_rollup`, `alert_counts`). The registered builder applies it to
`load_table(..., "events")`, which makes the batch twin the driver
SQL-checks against DuckDB. tests/test_streaming.py applies the same
function to `runner.read_events_stream(...)` plus a watermark and
asserts the stream's output against that twin. That makes the tumbling
window &c. hash-checked even though the driver's streaming check is
rows-only. For the same reason these queries keep their DataFrame
builders, even where Spark SQL runs the oracle to the same answer: the
plan function is what the stream runs, and the SQL text is not.
`q_stream_topk` ranks with `row_number` and `q_stream_dedup_late` keeps
the first row with `row_number`; a stream cannot run either window.

Scale posture: tumbling/sliding windows are hash aggregations keyed by
(window, type) — partial aggregation map-side, tiny shuffle. Session
windows key by user, so state is bounded per user; watermarks bound
total state by evicting closed windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import register
from presto_cached_examples_spark.sources.catalog import load_table


@register(
    "q_stream_tumbling",
    category="streaming",
    oracle="""
    SELECT
      date_trunc('hour', ts)  AS ws,
      event_type,
      COUNT(*)                AS n,
      ROUND(SUM(value), 2)    AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1-hour tumbling window. Spark's window()
    start for a 1h/0-offset window equals date_trunc('hour') — the
    oracle identity (R43: the vsync trigger boundary analog)."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Count and value sum per (1-hour window, event_type)."""
    return _window_counts(events, F.window("ts", "1 hour"))


def _window_counts(events: DataFrame, window) -> DataFrame:
    return (
        events.groupBy(window.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )


@register(
    "q_stream_sliding",
    category="streaming",
    oracle="""
    SELECT
      time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS ws,
      event_type,
      COUNT(*)             AS n,
      ROUND(SUM(value), 2) AS sum_value
    FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes. Each event lands in
    exactly 4 windows; the oracle materializes the same 4 starts via
    UNNEST — so even the sliding case is hash-checked."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


def sliding_counts(events: DataFrame) -> DataFrame:
    """Count and value sum per (1-hour window every 15 minutes, event_type)."""
    return _window_counts(events, F.window("ts", "1 hour", "15 minutes"))


@register(
    "q_stream_session",
    category="streaming",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(ts)                          AS session_start,
           MAX(ts) + INTERVAL '30 minutes'  AS session_end,
           COUNT(*)                         AS n_events,
           ROUND(SUM(value), 2)             AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap, via
    Spark's native session_window. The oracle is the classic
    gaps-and-islands rewrite; session_window.end = last event + gap by
    definition, matching MAX(ts) + 30 min."""
    return sessions(load_table(spark, sf_dir, "events"))


def sessions(events: DataFrame) -> DataFrame:
    """Per-user sessions closed by a 30-minute gap: bounds, count, value sum."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_dedup_late",
    category="streaming",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
      SELECT user_id, event_type, event_id, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_stream_dedup_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, type) — the batch twin of streaming
    `withWatermark(...).dropDuplicates(...)`, written as an explicit
    earliest-row window so it's deterministic and SQL-checkable (the
    streaming form keeps 'first seen', which in event-time order is
    exactly min(ts, event_id)). The watermark/late-drop behavior is
    exercised for real in tests/test_streaming.py.

    The stream keeps its own form, `runner.dedup_stream`: a stream
    cannot run `row_number`, so it uses `dropDuplicates`."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


@register(
    "q_stream_interval_join",
    category="streaming",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join — ALL same-user clicks within the hour before each
    purchase, with the click→purchase lag. interval_pairs over a
    watermarked events stream is a stream-stream self-join;
    tests/test_streaming.py pins that it produces exactly these pairs.
    Differs from
    q_join_asof_tol by emitting EVERY in-window pair, not the latest —
    the attribution-path analysis shape.

    Scale: equi-join on user_id with both time bounds as join
    predicates — the matcher state per key is capped by the interval,
    which is precisely what lets the streaming form evict state at
    watermark + delay. No window, no skew beyond the user key itself."""
    return interval_pairs(load_table(spark, sf_dir, "events"))


def interval_pairs(events: DataFrame) -> DataFrame:
    """Every (purchase, same-user click in the hour before it) pair."""
    return _interval_join(events, "inner")


def interval_left(events: DataFrame) -> DataFrame:
    """interval_pairs plus one NULL-click row per purchase with no click."""
    return _interval_join(events, "left")


def _interval_join(events: DataFrame, how: str) -> DataFrame:
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    organic = [F.col("click_id").isNull().alias("is_organic")] if how == "left" else []
    return p.join(
        c,
        (p.user_id == c.c_user_id)
        & (c.c_ts <= p.p_ts)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
        *organic,
    )


@register(
    "q_stream_enrich",
    category="streaming",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*)             AS n,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment rolled up per market segment. Over an
    events stream, enrich_rollup joins each micro-batch to a broadcast
    dimension; the static side re-resolves per micro-batch, so a
    snapshot swap of the dimension lands at the next trigger — C3's
    double-buffer flip, live. tests/test_streaming.py asserts the
    streaming execution equals this batch twin.

    Scale: the dimension is bounded (customers), the stream side never
    shuffles before the broadcast hash join, and the rollup is a tiny
    keyed aggregate — the canonical streaming-enrichment plan."""
    return enrich_rollup(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


def enrich_rollup(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Events joined to their customer's segment: count and value sum per segment."""
    c = customer.select("c_custkey", "c_mktsegment")
    return (
        events.join(F.broadcast(c), events.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@register(
    "q_stream_topk",
    category="streaming",
    oracle="""
    WITH counted AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT ws, event_type, n,
             ROW_NUMBER() OVER (
               PARTITION BY ws ORDER BY n DESC, event_type
             ) AS rnk
      FROM counted
    )
    SELECT ws, event_type, n, rnk FROM ranked WHERE rnk <= 2
    """,
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per 1-hour tumbling window — the trending
    leaderboard a monitoring dashboard refreshes per window. Batch
    twin of the streaming rollup: in Structured Streaming the counted
    tier is the incremental state (same as q_stream_tumbling) and the
    ranking runs on each complete-mode emit; here both tiers are one
    lazy plan over the same window boundaries, with the (n DESC,
    event_type) tie-break keeping ranks deterministic on both engines.

    Scale: counts reduce first — the rank window partitions on the
    window-start key over |types| rows per window, never raw events;
    WindowGroupLimit prunes to the top 2 before any full sort."""
    ev = load_table(spark, sf_dir, "events")
    counted = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("w").orderBy(F.col("n").desc(), "event_type")
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select(F.col("w.start").alias("ws"), "event_type", "n", "rnk")
    )


@register(
    "q_stream_interval_left",
    category="streaming",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us,
           c.event_id IS NULL AS is_organic
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def q_stream_interval_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join: every purchase, paired with each
    same-user click in the prior hour OR a NULL row if none exists —
    the 'organic vs attributed' split q_stream_interval_join's inner
    form silently drops. In the streaming form this is the
    watermark-dependent outer join: the NULL can only be emitted once
    the watermark passes the interval end, which is why the batch twin
    is the semantic oracle for it.

    Scale: same bounded-state equi-join on user_id as the inner twin;
    the outer side adds no state, only deferred NULL emission. The
    left-side filter is pushed to the scan on both engines."""
    return interval_left(load_table(spark, sf_dir, "events"))


_ALERT_NUM, _ALERT_DEN = 3, 2  # alert when share > 1.5x the global share


@register(
    "q_stream_alert",
    category="streaming",
    oracle=f"""
    WITH w AS (
      -- ::TIMESTAMP: to_timestamp is tz-aware in DuckDB; Spark's
      -- window start is naive
      SELECT CAST(to_timestamp(FLOOR(epoch(ts) / 21600) * 21600)
                  AS TIMESTAMP) AS ws,
             COUNT(*) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY ws
    ),
    g AS (
      SELECT SUM(n_events) AS tot_g, SUM(n_errors) AS err_g FROM w
    )
    SELECT w.ws, w.n_events, w.n_errors,
           CAST(FLOOR(w.n_errors * 10000.0 / w.n_events + 0.5) AS INT)
             AS err_bp,
           {_ALERT_DEN} * w.n_errors * g.tot_g
             > {_ALERT_NUM} * w.n_events * g.err_g AS alert
    FROM w CROSS JOIN g
    """,
)
def q_stream_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed error-rate alerting: 6-hour tumbling windows, each
    flagged when its error share exceeds 1.5x the global share — the
    on-call pager rule, shaped so the SAME plan runs as a Structured
    Streaming query (alert_counts, the tumbling window counts, is the
    incremental state; the global baseline becomes a broadcast
    reference relation refreshed per batch).

    Determinism: the alert compares INTEGERS via cross-multiplication
    ({_ALERT_DEN}*err*tot_g > {_ALERT_NUM}*tot*err_g  <=>  share >
    1.5x global) and the share is integer basis points via
    FLOOR(x*10000 + 0.5) — both posture choices from the ROUND-tie
    lesson (NOTES Decisions). Window boundaries are epoch-second
    floor arithmetic, identical on both engines under the pinned UTC
    session.

    Scale: one scan; window counts reduce two-phase into a
    |windows|-bounded relation; the baseline is a 1-row broadcast.

    Reference provenance: C8 watchdog thresholds over periodic
    self-measurement (/root/reference/src/SinglePsramBuffer480x480.cpp:166-175)."""
    return alert_verdict(alert_counts(load_table(spark, sf_dir, "events")))


q_stream_alert.__doc__ = q_stream_alert.__doc__.replace(
    "{_ALERT_NUM}", str(_ALERT_NUM)
).replace("{_ALERT_DEN}", str(_ALERT_DEN))


def alert_counts(events: DataFrame) -> DataFrame:
    """Events and errors per 6-hour tumbling window: q_stream_alert's
    incremental state, the |windows|-bounded relation alert_verdict reads."""
    return events.groupBy(F.window("ts", "6 hours").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    ).select(F.col("w.start").alias("ws"), "n_events", "n_errors")


def alert_verdict(w: DataFrame) -> DataFrame:
    """Alert projection shared by the batch twin and the real-stream
    execution (tests/test_streaming.py): given the |windows|-bounded
    counts relation (ws, n_events, n_errors), compute the 1-row global
    baseline as a broadcast and flag windows whose error share exceeds
    {num}/{den}x the global share via integer cross-multiplication.
    In the streaming run this re-executes per micro-batch over the
    accumulated window relation — the 'baseline refreshed per batch'
    shape the query docstring documents."""
    g = w.agg(
        F.sum("n_events").alias("tot_g"), F.sum("n_errors").alias("err_g")
    )
    return w.join(F.broadcast(g)).select(
        "ws",
        "n_events",
        "n_errors",
        F.floor(F.col("n_errors") * 10000.0 / F.col("n_events") + 0.5)
        .cast("int")
        .alias("err_bp"),
        (
            _ALERT_DEN * F.col("n_errors") * F.col("tot_g")
            > _ALERT_NUM * F.col("n_events") * F.col("err_g")
        ).alias("alert"),
    )


alert_verdict.__doc__ = alert_verdict.__doc__.replace(
    "{num}", str(_ALERT_NUM)
).replace("{den}", str(_ALERT_DEN))
