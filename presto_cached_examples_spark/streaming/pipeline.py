"""End-to-end incremental pipeline: stream → per-batch fold → snapshot
publish. This is EP3, the reference's double-buffer frame loop, run as
a real Structured Streaming query.

Reference trace (SURVEY.md §3.1 EP3,
/root/reference/src/DoublePsramBuffer480x480.cpp:130-215): each frame
updates per-row state (:142-170), touches only the dirty region
(:176-180), then atomically swaps buffers at the vsync barrier
(:196-202) so the reader only ever scans a complete frame.

Spark-native: each micro-batch is one frame. `foreachBatch` folds the
batch's partial aggregate into the running state (dirty keys only —
IncrementalAggregator), then publishes the new state as an atomic
snapshot (SnapshotPublisher) — readers of the published view never see
a half-merged batch. The micro-batch trigger IS the vsync barrier
(R43): state only advances at batch boundaries.

At 100 TB: the stream partitions by source file/offset ranges, the
fold shuffles only the batch's keys against co-partitioned state, and
the publish swaps a catalog pointer — none of the three steps scans
history.
"""

from __future__ import annotations

import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

from presto_cached_examples_spark.streaming.incremental import IncrementalAggregator


def run_incremental_pipeline(
    spark: SparkSession,
    source: DataFrame,
    keys: list[str],
    value_col: str,
    name: str,
    strategy: str = "incremental",
) -> IncrementalAggregator:
    """Drain a streaming `source` through per-batch incremental folds,
    publishing a snapshot after every batch; returns the aggregator
    whose `current()` is the final published snapshot.

    `strategy` is the CLEAR_TYPE knob (C4): "incremental" folds dirty
    keys; "full" recomputes from all batches seen — identical results
    (tests/test_properties.py), different cost."""
    agg = IncrementalAggregator(spark, keys=keys, value_col=value_col, name=name, strategy=strategy)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # Materialize the batch before folding: foreachBatch hands us a
        # view bound to this micro-batch's source offsets, and the
        # aggregator's state plan must not re-read those offsets later.
        agg.update(batch_df.localCheckpoint(eager=True))

    # Fresh checkpoint per run: a reused location would resume from old
    # offsets and silently skip the source.
    ckpt = tempfile.mkdtemp(prefix=f"pce_ckpt_{name}_")
    q = (
        source.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return agg


def run_continuous_pipeline(
    spark: SparkSession,
    source: DataFrame,
    keys: list[str],
    value_col: str,
    name: str,
    processing_time: str = "1 second",
    min_batches: int = 3,
    strategy: str | None = None,
    timeout_sec: float = 120.0,
    sample=None,
    agg: IncrementalAggregator | None = None,
) -> tuple[IncrementalAggregator, list[int]]:
    """The ALWAYS-ON form of the pipeline — R28/EP2's eternal loop, not
    a drain: a `processingTime`-triggered long-running query folds
    batches and publishes snapshots continuously until `min_batches`
    non-empty batches have been published, then stops cleanly. Returns
    the aggregator and the list of published snapshot versions.

    This is the reference's continuously-scanning display sink
    (/root/reference/README.md:13-17 — "you don't even need to call
    Update() as it is constantly sending the current back buffer out")
    run against Spark's micro-batch clock: the trigger interval is the
    scan-out cadence, and readers sample the published view WHILE the
    writer keeps folding — never observing a half-merged batch
    (asserted by the caller; tests/test_streaming.py polls the reader
    concurrently and checks every observed snapshot is a complete
    batch-boundary state).

    At 100 TB this is the standing ingest query: same fold/publish
    protocol as run_incremental_pipeline, different trigger — the
    availableNow drain is the backfill form, processingTime the
    steady-state form; semantics identical by construction.

    `sample`, if given, is invoked from the waiting thread after the
    first publish — the concurrent-reader hook; `agg` lets a caller
    supply (and observe) the aggregator before the run starts. `strategy`
    defaults to "incremental", or to the supplied aggregator's own; a
    `strategy` that contradicts the supplied aggregator raises
    ValueError."""
    if agg is None:
        agg = IncrementalAggregator(
            spark, keys=keys, value_col=value_col, name=name, strategy=strategy or "incremental"
        )
    elif strategy not in (None, agg.strategy):
        raise ValueError(f"strategy={strategy!r} but the supplied aggregator is {agg.strategy!r}")
    published: list[int] = []

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.localCheckpoint(eager=True)
        if b.isEmpty():
            return  # idle tick — nothing to fold, nothing to publish
        published.append(agg.update(b))

    ckpt = tempfile.mkdtemp(prefix=f"pce_ckpt_{name}_")
    q = (
        source.writeStream.foreachBatch(fold)
        .trigger(processingTime=processing_time)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + timeout_sec
        while len(published) < min_batches:
            if time.time() > deadline:
                raise TimeoutError(
                    f"continuous pipeline published {len(published)}/{min_batches} "
                    f"batches within {timeout_sec}s"
                )
            if q.exception() is not None:
                raise q.exception()
            if sample is not None and published:
                sample()  # concurrent reader probe, main thread
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination()
    return agg, published
