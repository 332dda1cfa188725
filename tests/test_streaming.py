"""Streaming pillar tests (SURVEY.md §7 M3):

1. Real streaming runs (readStream → watermark → memory sink) of
   windows.py's plan functions equal the registered batch twins that
   run the same functions.
2. Watermarked dedup drops late rows.
3. The stateful delta operator equals the window-lag form, and its
   cross-batch state carries deltas across micro-batch boundaries.
4. SnapshotPublisher gives snapshot isolation (C3).
5. IncrementalAggregator: incremental == full recompute (C4).
"""

from __future__ import annotations

import datetime

import pandas as pd

from pyspark.sql import functions as F

from presto_cached_examples_spark.plans.snapshot import SnapshotPublisher
from presto_cached_examples_spark.registry import all_specs
from presto_cached_examples_spark.sources.catalog import load_table
from presto_cached_examples_spark.streaming import runner, stateful, windows
from presto_cached_examples_spark.streaming.incremental import IncrementalAggregator
from tests.conftest import SF_TINY
from tests.util import canon_rows, jobs_during

WATERMARK = datetime.timedelta(hours=2)


def _sorted_rows(df):
    return canon_rows(df.toPandas())


def _events_stream(spark, watermark: str = "2 hours"):
    return runner.read_events_stream(spark, SF_TINY).withWatermark("ts", watermark)


def _twin(spark, name):
    return all_specs()[name].fn(spark, SF_TINY)


def _final_watermark(spark):
    """max(event time) - WATERMARK: where the drained stream's watermark ends."""
    return load_table(spark, SF_TINY, "events").agg(F.max("ts")).first()[0] - WATERMARK


def test_stream_tumbling_equals_batch_twin(spark):
    # complete mode: emit open windows too — append mode would hold back
    # windows newer than (max event time - watermark), which is correct
    # streaming behavior but makes the batch comparison asymmetric.
    streamed = runner.run_to_memory(
        windows.tumbling_counts(_events_stream(spark)), "t_tumbling", output_mode="complete"
    )
    assert _sorted_rows(streamed) == _sorted_rows(_twin(spark, "q_stream_tumbling"))


def test_stream_tumbling_append_holds_back_open_windows(spark):
    """Append mode must emit exactly the windows closed by the final
    watermark — the late-data discipline the reference's single-buffer
    demo lacks (C2)."""
    streamed = runner.run_to_memory(
        windows.tumbling_counts(_events_stream(spark)), "t_tumbling_append", output_mode="append"
    )
    batch = _twin(spark, "q_stream_tumbling").toPandas()
    cutoff = _final_watermark(spark).replace(minute=0, second=0, microsecond=0)
    closed = batch[batch.ws < cutoff]
    assert streamed.count() == len(closed)


def test_stream_sliding_equals_batch_twin(spark):
    """Sliding windows overlap, so each event updates four windows of
    state; in complete mode the drained stream equals the twin."""
    streamed = runner.run_to_memory(
        windows.sliding_counts(_events_stream(spark)), "t_sliding", output_mode="complete"
    )
    assert _sorted_rows(streamed) == _sorted_rows(_twin(spark, "q_stream_sliding"))


def test_stream_session_append_emits_only_closed_sessions(spark):
    """Append mode emits a session once the watermark passes its end.
    Every emitted session is a row of the twin, and every session the
    stream withholds ends past the final watermark."""
    streamed = runner.run_to_memory(
        windows.sessions(_events_stream(spark)), "t_session", output_mode="append"
    )
    got = set(map(tuple, streamed.collect()))
    want = set(map(tuple, _twin(spark, "q_stream_session").collect()))
    assert got, "watermark never closed a session"
    assert got <= want
    wm = _final_watermark(spark)
    withheld = [r for r in want - got if r[2] <= wm]
    assert not withheld, f"closed sessions never emitted: {withheld[:5]}"


def test_stream_normalizes_nanos_ts_like_the_table(spark, tmp_path):
    """Fixture generations stored ts as TIMESTAMP(NANOS) or (MICROS);
    the shipped fixtures are all MICROS. A NANOS file reads to the same
    µs-truncated timestamps through load_table and read_events_stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pd.to_datetime(["2024-01-01 00:00:00.000001999", "2024-01-02 12:00:00.000000000"])
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": ["click", "view"],
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        ),
        tmp_path / "events.parquet",
        version="2.6",
    )
    table = load_table(spark, str(tmp_path), "events")
    streamed = runner.run_to_memory(runner.read_events_stream(spark, str(tmp_path)), "t_nanos")
    assert streamed.dtypes == table.dtypes
    assert sorted(streamed.collect()) == sorted(table.collect())
    assert table.orderBy("event_id").first().ts == datetime.datetime(2024, 1, 1, 0, 0, 0, 1)


def test_stream_dedup_drops_duplicates(spark):
    events = runner.read_events_stream(spark, SF_TINY)
    streamed = runner.run_to_memory(runner.dedup_stream(events), "t_dedup")
    batch = load_table(spark, SF_TINY, "events")
    assert streamed.count() == batch.select("user_id", "event_type").distinct().count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two micro-batches: batch 2 contains a row far older than the
    watermark after batch 1 — streaming dedup must drop it."""
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    fresh = [(1, "2024-01-10 12:00:00", 1, "click", 1.0, "{}"),
             (2, "2024-01-10 12:30:00", 2, "view", 2.0, "{}")]
    late = [(3, "2024-01-01 00:00:00", 3, "click", 3.0, "{}")]  # 9 days late

    d = tmp_path / "stream_in"
    d.mkdir()

    def write_batch(rows, fname):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("append").parquet(str(d))

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    ckpt = str(tmp_path / "ckpt")

    def run(name):
        # memory sink can't recover from a checkpoint; foreachBatch can.
        seen: set[int] = set()

        def sink(batch_df, batch_id):
            seen.update(r.event_id for r in batch_df.collect())

        src = spark.readStream.schema(schema).parquet(str(d))
        dedup = src.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
        q = (
            dedup.writeStream.foreachBatch(sink)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return seen

    # run 1: only fresh rows exist; watermark persists to the checkpoint
    # as max(ts) - 1h = 11:30.
    write_batch(fresh, "b1")
    assert run("t_late") == {1, 2}

    # run 2 (same checkpoint): the new file carries a row 9 days older
    # than the persisted watermark — it must be dropped as late.
    write_batch(late, "b2")
    assert 3 not in run("t_late2")


def test_stateful_deltas_match_lag(spark):
    """applyInPandasWithState over the stream == window lag over the batch."""
    events = runner.read_events_stream(spark, SF_TINY)
    streamed = runner.run_to_memory(
        stateful.event_deltas_stateful(events), "t_deltas", output_mode="append"
    )
    from pyspark.sql import Window

    ev = load_table(spark, SF_TINY, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("us_since_prev"),
    )
    assert _sorted_rows(streamed) == _sorted_rows(batch)


def test_stateful_state_spans_batches(spark, tmp_path):
    """The second micro-batch's first delta references state from the
    first micro-batch — the dx/dy-across-polls property."""
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    d = tmp_path / "sin"
    d.mkdir()

    def write(rows):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(d))

    write([(1, "2024-01-01 00:00:00", 7, "click", 10.0, "{}")])
    write([(2, "2024-01-01 00:01:00", 7, "click", 25.0, "{}")])

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(d))
    q = (
        stateful.event_deltas_stateful(src)
        .writeStream.format("memory").queryName("t_span")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination()
    rows = {r.event_id: r for r in spark.table("t_span").collect()}
    assert rows[1].value_delta is None
    assert rows[2].value_delta == 15.0 and rows[2].us_since_prev == 60_000_000


def test_snapshot_publisher_isolation(spark):
    pub = SnapshotPublisher(spark, "snap_test")
    df1 = spark.range(5).withColumn("gen", F.lit(1))
    pub.publish(df1)
    reader_v1 = pub.reader()
    assert reader_v1.agg(F.max("gen")).first()[0] == 1

    pub.publish(spark.range(7).withColumn("gen", F.lit(2)))
    # handle resolved before the swap still sees generation 1 (C3)
    assert reader_v1.agg(F.max("gen")).first()[0] == 1
    assert reader_v1.count() == 5
    # new resolution sees generation 2
    assert pub.reader().agg(F.max("gen")).first()[0] == 2
    assert pub.reader().count() == 7
    pub.drop()


def test_incremental_equals_full(spark):
    """C4 equivalence: dirty-key merge == full recompute, batch by batch."""
    ev = load_table(spark, SF_TINY, "events")
    slices = [
        ev.filter(F.dayofmonth("ts") <= 10),
        ev.filter((F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20)),
        ev.filter(F.dayofmonth("ts") > 20),
    ]
    inc = IncrementalAggregator(spark, ["event_type"], "value", "inc_test")
    full = IncrementalAggregator(spark, ["event_type"], "value", "full_test", strategy="full")
    for s in slices:
        inc.update(s)
        full.update(s)
        assert _sorted_rows(inc.result()) == _sorted_rows(full.result())
    # and the final state equals a one-shot aggregate over everything
    one_shot = IncrementalAggregator(spark, ["event_type"], "value", "once_test")
    one_shot.update(ev)
    assert _sorted_rows(inc.result()) == _sorted_rows(one_shot.result())
    inc.publisher.drop()
    full.publisher.drop()
    one_shot.publisher.drop()


def test_incremental_all_null_group_stays_null(spark):
    """A key whose values are all NULL has no sum, min, max or avg
    however many folds it spans — the same as a one-shot GROUP BY and
    as the "full" strategy. Its count still counts the rows."""
    data = ([("a", None), ("b", 1.0)], [("a", None), ("b", 2.0)])
    inc = IncrementalAggregator(spark, ["k"], "v", "null_inc")
    full = IncrementalAggregator(spark, ["k"], "v", "null_full", strategy="full")
    for d in data:
        batch = spark.createDataFrame(d, "k string, v double")
        inc.update(batch)
        full.update(batch)
    want = [("a", 2, None, None, None, None), ("b", 2, 3.0, 1.0, 2.0, 1.5)]
    for agg in (inc, full):
        assert sorted(tuple(r) for r in agg.result().collect()) == want
        assert sorted(tuple(r) for r in agg.current().collect()) == want
        agg.publisher.drop()


def _event_batches(spark, n=4):
    ev = load_table(spark, SF_TINY, "events")
    return [ev.filter(F.col("event_id") % n == b) for b in range(n)]


def test_incremental_fold_job_budget(spark):
    """Each fold materializes its new state once, inside the publish:
    no raw-history checkpoint, no separate eager state checkpoint, and
    no extra aggregate stage to force the cache. Three jobs per fold at
    most, checkpoint folds included."""
    agg = IncrementalAggregator(
        spark, ["user_id", "event_type"], "value", "fold_budget", checkpoint_every=2
    )
    jobs = [len(jobs_during(spark, lambda: agg.update(b))) for b in _event_batches(spark)]
    assert max(jobs) <= 3, f"jobs per fold: {jobs}"
    agg.publisher.drop()


def test_publish_materializes_and_retired_handles_recompute(spark):
    """After publish returns, every partition of the published
    generation is cached and readers scan that cache. A handle taken
    before two further folds (one of them a checkpoint fold) still
    returns its own generation's rows after that generation retires."""
    batches = _event_batches(spark)
    agg = IncrementalAggregator(
        spark, ["user_id", "event_type"], "value", "publish_safety", checkpoint_every=2
    )
    agg.update(batches[0])
    live = agg.publisher._live
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(live._jdf)
    assert cached.isDefined(), "published generation is not in the cache manager"
    rdd_id = cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()
    info = [i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo() if i.id() == rdd_id]
    assert info and info[0].numCachedPartitions() == info[0].numPartitions(), "partial publish"
    assert "InMemoryTableScan" in agg.current()._jdf.queryExecution().executedPlan().toString()

    handle = agg.current()
    before = _sorted_rows(handle)
    assert sum(r.n for r in handle.collect()) == batches[0].count()
    agg.update(batches[1])  # checkpoint fold
    agg.update(batches[2])
    assert _sorted_rows(handle) == before
    agg.publisher.drop()


def test_incremental_pipeline_end_to_end(spark, tmp_path):
    """EP3 end-to-end: a 2-batch file stream folded incrementally and
    snapshot-published per batch must equal one batch aggregate over
    everything (the glitch-free double-buffer equivalence, C3+C4)."""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.sources.catalog import load_table
    from presto_cached_examples_spark.streaming.pipeline import run_incremental_pipeline

    ev = load_table(spark, SF_TINY, "events").select("event_id", "event_type", "value")
    src_dir = tmp_path / "ev_stream"
    # two files → two micro-batches under maxFilesPerTrigger=1
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(src_dir / "b0"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(src_dir / "b1"))

    stream = (
        spark.readStream.schema("event_id BIGINT, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    agg = run_incremental_pipeline(
        spark, stream, keys=["event_type"], value_col="value", name="ev_live"
    )

    got = {r.event_type: (r.n, r.sum_v) for r in agg.current().collect()}
    want = {
        r.event_type: (r.n, r.sum_v)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_v"),
        )
        .collect()
    }
    assert got == want


def test_stream_enrich_rollup_equals_registered_twin(spark):
    """The streaming execution of q_stream_enrich's plan (stream →
    broadcast dim join → per-segment rollup in complete mode) must
    equal the registered batch twin the driver hash-checks."""
    customer = load_table(spark, SF_TINY, "customer")
    rolled = windows.enrich_rollup(_events_stream(spark), customer)
    got = sorted(runner.run_to_memory(rolled, "enrich_rollup", output_mode="complete").collect())
    assert got == sorted(_twin(spark, "q_stream_enrich").collect())


def test_stream_stream_join_equals_batch_twin(spark):
    """Watermarked stream-stream self-join (purchases with clicks from
    the same user in the preceding hour) equals the batch range join."""
    joined = windows.interval_pairs(_events_stream(spark))
    got = sorted(tuple(r) for r in runner.run_to_memory(joined, "ss_join").collect())
    want = sorted(tuple(r) for r in _twin(spark, "q_stream_interval_join").collect())
    assert want, "fixture has no in-window purchase/click pairs"
    assert got == want


def test_checkpoint_restart_does_not_reprocess(spark, tmp_path):
    """Fault-tolerance contract: a restarted query with the SAME
    checkpoint resumes from committed offsets — file A, processed
    before the stop, must not be re-emitted after restart (the
    exactly-once half the reference's polled loop cannot offer)."""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.sources.catalog import load_table

    ev = load_table(spark, SF_TINY, "events").select("event_id", "event_type")
    src = tmp_path / "restart_src"
    ckpt = str(tmp_path / "restart_ckpt")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    a.coalesce(1).write.parquet(str(src / "a"))

    seen_batches: list[set] = []

    def sink(batch_df, batch_id):
        seen_batches.append({r.event_id for r in batch_df.collect()})

    def drain():
        q = (
            spark.readStream.schema("event_id BIGINT, event_type STRING")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # run 1: sees only file A, commits its offsets
    first_total = set().union(*seen_batches) if seen_batches else set()
    assert first_total == {r.event_id for r in a.collect()}

    b.coalesce(1).write.parquet(str(src / "b"))
    seen_batches.clear()
    drain()  # run 2, same checkpoint: must emit ONLY file B

    second_total = set().union(*seen_batches) if seen_batches else set()
    assert second_total == {r.event_id for r in b.collect()}, (
        "restart re-emitted already-committed rows"
    )


def test_stream_stream_left_outer_matches_and_defers_nulls(spark):
    """Left-outer watermarked stream-stream join: matched pairs equal
    the batch twin exactly (matches emit eagerly); NULL-padded organic
    rows are a subset of the batch twin's organic set — only purchases
    whose join window the watermark has provably closed may emit, and
    no purchase may appear both matched and NULL-padded. (Which
    organic rows flush depends on micro-batch watermark advancement,
    so the test pins soundness — never-wrong — plus non-emptiness,
    not the exact flush frontier.)"""
    joined = windows.interval_left(_events_stream(spark))
    got = [tuple(r) for r in runner.run_to_memory(joined, "ss_left_join").collect()]
    got_pairs = sorted(t[:4] for t in got if t[1] is not None)
    got_null_ids = {t[0] for t in got if t[1] is None}

    batch = _twin(spark, "q_stream_interval_left").collect()
    want_pairs = sorted(tuple(r)[:4] for r in batch if r.click_id is not None)
    want_organic_ids = {r.purchase_id for r in batch if r.is_organic}

    assert got_pairs == want_pairs
    assert got_null_ids, "watermark never flushed any organic purchase"
    assert got_null_ids <= want_organic_ids
    assert not (got_null_ids & {t[0] for t in got_pairs})


def test_stream_alert_equals_batch_twin(spark):
    """q_stream_alert executed as a REAL stream (VERDICT r7 item 5):
    watermarked 6h tumbling error counts run as the stateful streaming
    agg (update mode), each micro-batch refreshes an accumulated
    window relation, and the shared alert_verdict projection —
    baseline recomputed per batch — must converge to the batch twin
    exactly once the fixture drains."""
    acc: dict = {}
    verdicts_per_batch: list[int] = []

    def sink(batch_df, batch_id):
        # merge this batch's updated windows into the accumulated
        # relation (test-scale stand-in for the serving table a
        # production pipeline would MERGE into) ...
        for r in batch_df.collect():
            acc[r.ws] = (int(r.n_events), int(r.n_errors))
        if not acc:
            return
        # ... and refresh the global-baseline verdicts over it — the
        # per-batch re-execution of the shared projection
        cur = batch_df.sparkSession.createDataFrame(
            [(ws, n, e) for ws, (n, e) in acc.items()],
            "ws timestamp, n_events long, n_errors long",
        )
        verdicts_per_batch.append(windows.alert_verdict(cur).count())

    q = (
        windows.alert_counts(_events_stream(spark, "12 hours"))
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert acc, "stream emitted no windows"
    assert verdicts_per_batch, "alert projection never refreshed"
    final = spark.createDataFrame(
        [(ws, n, e) for ws, (n, e) in acc.items()],
        "ws timestamp, n_events long, n_errors long",
    )
    got = sorted(tuple(r) for r in windows.alert_verdict(final).collect())
    want = sorted(tuple(r) for r in _twin(spark, "q_stream_alert").collect())
    assert want and got == want
    assert any(r[4] for r in got), "fixture raises no alert — rule untested"


def test_continuous_trigger_pipeline_always_on(spark):
    """R28/EP2 closure (VERDICT r5 item 6): a processingTime-triggered
    LONG-RUNNING query (not an availableNow drain) folds >=3 rate-source
    batches while a concurrent reader samples the published snapshot.
    Every sampled snapshot must be a COMPLETE batch-boundary state:
    the rate source emits value = 0,1,2,... contiguously, so any
    published aggregate must cover exactly the prefix 0..M — total
    count M+1 and total sum M(M+1)/2 for M = max(max_v). A reader that
    ever saw a half-merged batch would break the prefix identity."""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.streaming.pipeline import run_continuous_pipeline

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "200")
        .load()
        .select((F.col("value") % 4).alias("k"), F.col("value").cast("double").alias("v"))
    )

    from presto_cached_examples_spark.streaming.incremental import IncrementalAggregator

    samples: list[tuple[int, float, float]] = []
    agg = IncrementalAggregator(spark, keys=["k"], value_col="v", name="continuous_demo")

    def sample() -> None:
        rows = (
            agg.current()
            .agg(F.sum("n").alias("n"), F.sum("sum_v").alias("s"), F.max("max_v").alias("m"))
            .collect()[0]
        )
        samples.append((rows.n, rows.s, rows.m))

    agg, versions = run_continuous_pipeline(
        spark,
        src,
        keys=["k"],
        value_col="v",
        name="continuous_demo",
        processing_time="1 second",
        min_batches=3,
        sample=sample,
        agg=agg,
    )

    # the query really was always-on: >=3 published generations,
    # monotonically increasing versions
    assert len(versions) >= 3 and versions == sorted(versions)
    # final state is itself a complete prefix
    sample()
    assert samples, "reader never sampled a snapshot"
    for n, s, m in samples:
        assert n == int(m) + 1, f"count {n} is not the complete prefix 0..{int(m)}"
        assert abs(s - m * (m + 1) / 2) < 1e-6, f"sum {s} != prefix sum for M={m}"
    # and the stream actually advanced across batches
    assert samples[-1][0] > samples[0][0] or len(versions) > 3
    agg.publisher.drop()
