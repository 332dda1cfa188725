"""Join operators (SURVEY.md §2.B: q_join_*).

Scale posture, per join:
- Equi-joins on keys shuffle both sides by the key (sort-merge) unless
  one side is broadcastable. Dimensions bounded in size (region=5,
  nation=25, and filtered small sides) broadcast, by hint in a builder
  and by the size threshold in a SQL-only entry, so the 100 TB fact
  side never shuffles for them. AQE re-plans to broadcast when a
  filtered side turns out small.
- Non-equi (range/as-of) joins always pair a *bounded* side with the
  big side: the bounded side broadcasts, so the big side is a single
  scan — no cartesian shuffle. The as-of join is an equi-join on the
  partition key (user) with the time predicate applied inside the
  per-key window, which is the partition-local pattern that survives
  scale-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import register, register_sql
from presto_cached_examples_spark.sources import layouts
from presto_cached_examples_spark.sources.catalog import load_table, source_fingerprint


register_sql(
    "q_join_inner",
    category="join",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment,
           ROUND(o.o_totalprice, 2) AS o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)


# region and nation are a few rows at every scale factor, so the size
# threshold broadcasts them without a hint (tests/test_plans.py pins it).
register_sql(
    "q_join_broadcast",
    category="join",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)


# Catalyst infers no semi-filter from the nation-region chain, so non-ASIA
# customers and suppliers reach the fact joins. That costs nothing while
# every join broadcasts: at sf0.1 the SQL plan has one stage fewer than an
# explicitly semi-filtered builder, at equal shuffle bytes.
register_sql(
    "q_join_multiway",
    category="join",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_lineitems
    FROM customer c
    JOIN orders   o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation   n ON s.s_nationkey = n.n_nationkey
    JOIN region   r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1998-01-01'
    GROUP BY n.n_name
    """,
)


register_sql(
    "q_join_left",
    category="join",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey)                     AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spent
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority = '1-URGENT'
    GROUP BY c.c_custkey, c.c_name
    """,
)


register_sql(
    "q_join_full",
    category="join",
    oracle="""
    WITH rich AS (
      SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
      FROM customer WHERE c_acctbal > 9000
    ),
    big AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS big_total, COUNT(*) AS n_big
      FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey
    )
    SELECT
      COALESCE(rich.c_custkey, big.o_custkey) AS custkey,
      rich.acctbal,
      big.big_total,
      big.n_big
    FROM rich FULL OUTER JOIN big ON rich.c_custkey = big.o_custkey
    """,
)


register_sql(
    "q_join_semi",
    category="join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)


register_sql(
    "q_join_anti",
    category="join",
    oracle="""
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)


register_sql(
    "q_join_cross",
    category="join",
    oracle="""
    SELECT r.r_name, n.n_name,
           (r.r_regionkey = n.n_regionkey) AS is_home
    FROM region r CROSS JOIN nation n
    """,
)


# Builder kept: the broadcast inner join plus left re-join is the query.
# As SQL at sf0.1: 764 -> 1,224 ms warm wall.
@register(
    "q_join_range",
    category="join",
    oracle="""
    SELECT c.c_custkey, ROUND(c.c_acctbal, 2) AS c_acctbal,
           COUNT(o.o_orderkey)               AS n_in_band,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS band_total
    FROM customer c
    LEFT JOIN orders o
      ON o.o_totalprice BETWEEN c.c_acctbal * 20 AND c.c_acctbal * 40
    WHERE c.c_acctbal > 9900
    GROUP BY c.c_custkey, c.c_acctbal
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: orders whose price falls in a per-customer band.

    Spark can never broadcast the row-preserving side of an outer join
    (JoinSelection allows BuildRight only for LEFT OUTER and BuildLeft
    only for RIGHT OUTER), so a direct `customer LEFT JOIN orders` would
    broadcast the *orders* side — fatal at scale. Instead: INNER
    BroadcastNestedLoopJoin (bounded customer slice broadcast, single
    pass over orders) + aggregate, then a tiny left join of the customer
    slice onto the aggregate to restore zero-match customers. Plan shape
    is asserted in tests/test_plans.py."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select("c_custkey", "c_acctbal")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cond = F.col("o_totalprice").between(F.col("c_acctbal") * 20, F.col("c_acctbal") * 40)
    in_band = (
        o.join(F.broadcast(c), cond, "inner")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_in_band"),
            F.round(F.sum("o_totalprice"), 2).alias("band_total"),
        )
    )
    return (
        c.join(in_band, "c_custkey", "left")
        .select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.coalesce("n_in_band", F.lit(0)).alias("n_in_band"),
            F.coalesce("band_total", F.lit(0.0)).alias("band_total"),
        )
    )


# Builder kept: as SQL at sf0.1, shuffle write +12% (594,954 -> 667,444 bytes).
@register(
    "q_join_asof",
    category="join",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    paired AS (
      SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
             c.ts AS click_ts, c.value AS click_value,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id
             ) AS rn
      FROM purchases p
      JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
    )
    SELECT event_id, user_id, purchase_ts, click_ts,
           ROUND(click_value, 2) AS click_value
    FROM paired WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click by the same user
    at or before it (reference analog: latest-state lookup GetTouch,
    FT6236.h:121-127).

    Spark-first shape: equi-join on the partition key (user_id) with
    the time bound as a join predicate, then a per-purchase window
    keeps the latest match. Partitioning by user_id co-locates both
    sides; no cross-partition time logic — this survives 1000
    executors. Ties are impossible (ts is unique per user in-band) and
    the window order is (ts DESC) on both sides."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    cl = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    # click event_id as the final ORDER BY key: the fixture keeps ts
    # unique per user, but determinism must not hinge on a fixture
    # invariant — a duplicate (user, ts) click pair would otherwise
    # make both engines' rn=1 pick (hence the driver hash) arbitrary.
    w = Window.partitionBy("event_id").orderBy(
        F.col("click_ts").desc(), F.col("c_event_id")
    )
    return (
        p.join(cl, (p.user_id == cl.c_user_id) & (cl.click_ts <= p.purchase_ts))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "purchase_ts",
            "click_ts",
            F.round("click_value", 2).alias("click_value"),
        )
    )


# Builder kept: as SQL at sf0.1, stages 3 -> 5 and shuffle exchanges 1 -> 2.
@register(
    "q_join_asof_tol",
    category="join",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    paired AS (
      SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
             c.ts AS click_ts, c.value AS click_value,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id
             ) AS rn
      FROM purchases p
      JOIN clicks c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts
       AND c.ts >= p.ts - INTERVAL 1 HOUR
    )
    SELECT pp.event_id, pp.user_id, pp.ts AS purchase_ts,
           m.click_ts, ROUND(m.click_value, 2) AS click_value,
           m.click_ts IS NOT NULL AS attributed
    FROM purchases pp
    LEFT JOIN (SELECT * FROM paired WHERE rn = 1) m
      ON pp.event_id = m.event_id
    """,
)
def q_join_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance and left semantics: each
    purchase pairs with the latest same-user click at most 1 hour old;
    purchases with no in-window click survive with nulls (attributed =
    false) — the attribution-window variant of q_join_asof (pandas
    merge_asof's `tolerance`).

    Scale: same co-located shape as q_join_asof — equi-join on user_id
    with BOTH time bounds as join predicates, so the matcher prunes to
    a bounded interval per probe (state the tolerance caps, exactly
    like the watermarked stream-stream join); the left join back is
    keyed on event_id (uniform, unique)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    cl = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    # click event_id as the final ORDER BY key: the fixture keeps ts
    # unique per user, but determinism must not hinge on a fixture
    # invariant — a duplicate (user, ts) click pair would otherwise
    # make both engines' rn=1 pick (hence the driver hash) arbitrary.
    w = Window.partitionBy("event_id").orderBy(
        F.col("click_ts").desc(), F.col("c_event_id")
    )
    # ONE left join + rank (round 9, the q_label_join fold): an
    # unattributed purchase survives as its single null-click row
    # (rank 1 — the left join emits the null row only when NO click
    # matched, so null and non-null click_ts never coexist within a
    # purchase; click_ts DESC orders nulls last, irrelevant here for
    # that reason). The previous inner-join-then-left-rejoin shape
    # re-derived the purchase slice (a second events scan) just to
    # restore the unmatched rows.
    return (
        p.join(
            cl,
            (p.user_id == cl.c_user_id)
            & (cl.click_ts <= p.purchase_ts)
            & (cl.click_ts >= p.purchase_ts - F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "purchase_ts",
            "click_ts",
            F.round("click_value", 2).alias("click_value"),
            F.col("click_ts").isNotNull().alias("attributed"),
        )
    )


# Bucketed fact-fact join: bucket count must match on both sides for
# Spark to elide the exchanges. One bucketed copy per (session, sf);
# table names carry an sf tag so fixtures don't collide.
_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/lineitem bucketed once per FIXTURE and return the
    table names — the ingest-time step of the zero-shuffle join design.

    Concurrency-safe as of round 13 (VERDICT r12 item 1): the bucketed
    files are produced through a session-unique EXTERNAL staging table
    (``.option("path", ...)`` + ``saveAsTable`` writes Spark's
    bucket-id-named files; dropping the external entry keeps them),
    published at a fingerprint-named canonical dir with one atomic
    rename, and never rewritten.  Each session then registers its own
    ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` entry over the
    shared immutable dir — bucket metadata lives in the (private)
    session catalog, bucket ids live in the (shared) file names, and
    the sort-merge join stays exchange-free exactly as with the old
    managed table."""
    import os
    import re
    import shutil

    from presto_cached_examples_spark.operators.scans import _reap_stale_siblings

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    to, tl = f"b_orders_{tag}", f"b_lineitem_{tag}"
    wh = layouts.warehouse_dir(spark)
    for name, table, key, cols in (
        (to, "orders", "o_orderkey", ["o_orderkey", "o_orderstatus", "o_totalprice"]),
        (tl, "lineitem", "l_orderkey", ["l_orderkey", "l_linenumber", "l_extendedprice"]),
    ):
        if spark.catalog.tableExists(name):
            continue
        df = load_table(spark, sf_dir, table).select(*cols)
        canonical = os.path.join(wh, f"{name}_{source_fingerprint(sf_dir, table)}")
        if not layouts.is_published(canonical):
            layouts.reap_stale_staging(wh)
            _reap_stale_siblings(wh, f"{name}_", canonical)
            # pre-r13 debris: per-session managed dir (never a publish
            # target now) + partial canonical — the helper re-checks
            # existence+unpublished immediately before sweeping so a
            # concurrently-published layout is never deleted
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
            layouts.clear_unpublished_debris(canonical)
            stg = layouts.staging_dir(spark, canonical)
            stg_tbl = f"stg_{name}"
            spark.sql(f"DROP TABLE IF EXISTS `{stg_tbl}`")
            (
                df.write.bucketBy(_BUCKETS, key)
                .sortBy(key)
                .option("path", stg)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(stg_tbl)
            )
            spark.sql(f"DROP TABLE IF EXISTS `{stg_tbl}`")  # external: files survive
            layouts.publish(stg, canonical)
        spark.sql(
            f"CREATE TABLE `{name}` ({layouts.schema_ddl(df.schema)}) "
            f"USING parquet CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
            f"INTO {_BUCKETS} BUCKETS LOCATION '{canonical}'"
        )
    return to, tl


# Builder kept: the bucketed layout is the query. As SQL over the raw
# tables at sf0.1: stages 1 -> 2, 305 -> 779 ms warm wall.
@register(
    "q_join_bucketed",
    category="join",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber,
           ROUND(l.l_extendedprice, 2) AS l_extendedprice,
           o.o_orderstatus
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle fact-fact join over bucketed layout: orders and
    lineitem are both written bucketed (and per-bucket sorted) on the
    order key with the SAME bucket count, so the sort-merge join
    consumes bucket files directly — the plan contains NO exchange at
    all (pinned in tests/test_plans.py; the merge hint keeps AQE from
    demonstrating broadcast instead on the small fixtures). The oracle
    is the plain join: bucketing is storage layout, never semantics.

    Scale: this is the pre-paid-shuffle design for recurring fact-fact
    joins — the shuffle happens ONCE at write time (here: once per
    session, memoized through the catalog) and every subsequent join of
    any two tables bucketed on the same key and count is exchange-free.
    At 100 TB with daily joins this converts an every-run O(data)
    shuffle into a write-time cost amortized across all consumers."""
    to, tl = _bucketed_tables(spark, sf_dir)
    o, li = spark.table(to), spark.table(tl)
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .select(
            "o_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("l_extendedprice"),
            "o_orderstatus",
        )
    )


_BLOOM_BITS = 65536  # m: bits in the filter (1024 longs); size ~15 bits/key
_BLOOM_K = 3  # hash functions
_BLOOM_PRICE = 480000.0  # build-side selectivity: ~top 3% of orders


# Builder kept: the hand-built Bloom filter is the query.
@register(
    "q_join_bloom",
    category="join",
    oracle=f"""
    SELECT l.l_returnflag,
           COUNT(*) AS n_lineitems,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    WHERE l.l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_totalprice > {_BLOOM_PRICE}
    )
    GROUP BY l.l_returnflag
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join: revenue of lineitems belonging to
    the top ~3% highest-value orders. The build side's orderkeys fold
    into a {_BLOOM_BITS}-bit Bloom filter ({_BLOOM_K} xxhash64 probes)
    carried as 1024 longs in ONE broadcast row; the probe side drops
    non-matching lineitems map-side BEFORE the exact semi join that
    removes the filter's false positives — the explicit form of the
    runtime row-group/semi-join filters an engine injects to keep a
    selective join from shuffling the full fact table. No false
    negatives by construction, so the oracle is the plain semi join.

    Scale: the filter is fixed-size (m sized at ~15 bits per expected
    key — grow it with the build side, never with the probe side), the
    bit-array build is a two-phase (word)-keyed aggregate, and the
    probe is a map-side bit test; only surviving rows reach the
    shuffle. Hash bits never reach the output, so xxhash64 is fine
    here (the md5 rule applies only to output-visible bits)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > _BLOOM_PRICE
    )
    keys = o.select(F.col("o_orderkey").alias("k"))

    def positions(col):
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(_BLOOM_BITS))
            for i in range(_BLOOM_K)
        ]

    # build: per-word OR-mask aggregate, then one row holding the full
    # word map (bounded: <= m/64 entries)
    bits = keys.select(
        F.explode(F.array(*positions(F.col("k")))).alias("pos")
    ).select(
        F.expr("pos DIV 64").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
    )
    words = bits.groupBy("word").agg(F.bit_or("bit").alias("mask"))
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("bloom")
    )

    probed = li.join(F.broadcast(bloom)).withColumns(
        {f"pos{i}": p for i, p in enumerate(positions(F.col("l_orderkey")))}
    )
    survives = F.lit(True)
    for i in range(_BLOOM_K):
        survives = survives & F.expr(
            f"(coalesce(element_at(bloom, pos{i} DIV 64), CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(pos{i} % 64 AS INT))) != 0"
        )
    prefiltered = probed.filter(survives).drop(
        "bloom", *[f"pos{i}" for i in range(_BLOOM_K)]
    )

    return (
        prefiltered.join(keys, prefiltered.l_orderkey == keys.k, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


_RANGE_BUCKET_W = 50_000.0  # price-bucket width for the range-join rewrite


# Builder kept: the price-bucket equi-join rewrite is the query. As SQL
# at sf0.1: 904 -> 1,349 ms warm wall.
@register(
    "q_join_range_bucketed",
    category="join",
    oracle="""
    SELECT c.c_custkey, ROUND(c.c_acctbal, 2) AS c_acctbal,
           COUNT(o.o_orderkey)               AS n_in_band,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS band_total
    FROM customer c
    LEFT JOIN orders o
      ON o.o_totalprice BETWEEN c.c_acctbal * 20 AND c.c_acctbal * 40
    WHERE c.c_acctbal > 9900
    GROUP BY c.c_custkey, c.c_acctbal
    """,
)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join rewritten as a bucketed EQUI-join — the scale path
    for q_join_range's semantics. Each customer band [20·bal, 40·bal]
    explodes map-side to the fixed-width price buckets it overlaps
    (≤ ceil(band/width)+1 rows); each order maps to exactly one
    bucket; a plain hash join on the bucket key plus the residual
    BETWEEN filter replaces the BroadcastNestedLoopJoin that evaluates
    every (order, customer) pair. Same oracle as q_join_range —
    bucketing is a physical rewrite, never semantics.

    Scale: BNLJ work is O(|orders| × |customers|) and requires one
    side broadcast; this shape shuffles both sides once on a
    uniformly-distributed bucket key and compares only same-bucket
    pairs — O(|orders| + |customers|·buckets_per_band + matches).
    The width tunes the fan-out/selectivity trade exactly like the
    bucket count of an interval index. Plan is pinned BNLJ-free in
    tests/test_plans.py."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select("c_custkey", "c_acctbal")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lo = F.col("c_acctbal") * 20
    hi = F.col("c_acctbal") * 40
    c_buckets = c.select(
        "c_custkey",
        "c_acctbal",
        F.explode(
            F.sequence(
                F.floor(lo / _RANGE_BUCKET_W), F.floor(hi / _RANGE_BUCKET_W)
            )
        ).alias("bkt"),
    )
    o_bucketed = o.withColumn("bkt", F.floor(F.col("o_totalprice") / _RANGE_BUCKET_W))
    in_band = (
        o_bucketed.join(c_buckets, "bkt")
        .filter(
            F.col("o_totalprice").between(
                F.col("c_acctbal") * 20, F.col("c_acctbal") * 40
            )
        )
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_in_band"),
            F.round(F.sum("o_totalprice"), 2).alias("band_total"),
        )
    )
    return (
        c.join(in_band, "c_custkey", "left")
        .select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.coalesce("n_in_band", F.lit(0)).alias("n_in_band"),
            F.coalesce("band_total", F.lit(0.0)).alias("band_total"),
        )
    )


# Builder kept: the oracle's epoch_us is DuckDB-only.
@register(
    "q_label_join",
    category="join",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts, value AS c_value
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id
      FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT c.click_id, c.user_id, c.c_ts, c.c_value,
             p.p_ts, p.p_id,
             ROW_NUMBER() OVER (
               PARTITION BY c.click_id ORDER BY p.p_ts, p.p_id
             ) AS rn
      FROM clicks c
      JOIN purch p ON p.user_id = c.user_id
       AND p.p_ts > c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL 7 DAY
    )
    SELECT c.click_id, c.user_id,
           ROUND(c.c_value, 2) AS feature_value,
           m.p_id IS NOT NULL AS label_converted,
           CAST(epoch_us(m.p_ts) - epoch_us(c.c_ts) AS BIGINT)
             AS time_to_convert_us
    FROM clicks c
    LEFT JOIN (SELECT * FROM matched WHERE rn = 1) m
      ON m.click_id = c.click_id
    """,
)
def q_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of label join: every click becomes a training
    example — features frozen at click time, label = did a purchase by
    the SAME user follow within 7 days (plus time-to-convert for the
    survival variant). The time-reversed twin of q_join_asof, and the
    join that generates supervised labels for every propensity /
    churn / conversion model: strictly future-looking on the label
    side, so no target leakage by construction.

    Scale: equi-join on user_id with both time bounds as join
    predicates (bounded matcher state — the watermarked stream shape),
    earliest-future-purchase picked by a WindowGroupLimit rank inside
    the same user partitioning, then a LEFT join keeps the negatives
    (unconverted clicks ARE the training zeros — dropping them would
    bias the base rate). Deterministic (p_ts, p_id) tie-break."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("click_id").orderBy("p_ts", "p_id")
    # ONE left join + rank (round 9): an unmatched click survives as
    # its single null-label row (rank 1 by construction — a left join
    # emits the null row only when NO purchase matched, so null and
    # non-null p_ts never coexist within a click), and a matched
    # click keeps its earliest future purchase. The previous
    # inner-join-then-left-rejoin shape re-derived the clicks slice
    # (a second events scan) just to restore the negatives.
    return (
        clicks.join(
            purch,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "click_id",
            "user_id",
            F.round("c_value", 2).alias("feature_value"),
            F.col("p_id").isNotNull().alias("label_converted"),
            (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias(
                "time_to_convert_us"
            ),
        )
    )
