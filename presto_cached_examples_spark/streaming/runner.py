"""Structured Streaming runtime: a readStream source over the events
fixture, watermarked streaming dedup, and a memory-sink drain. The
window, join and rollup plans a stream runs are windows.py's plan
functions, applied to `read_events_stream(...)` plus a watermark.

Reference trace (SURVEY.md §3.1 EP2): the eternal frame loop —
poll (ReadTouch) → vsync barrier → transform → write → metrics —
is one micro-batch: source poll → trigger boundary → stateful
transform → sink write. `Trigger.AvailableNow` drains the fixture
like the demo's finite test run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from presto_cached_examples_spark.sources.catalog import normalize_events, read_events_stored


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture (file source; one file = one
    initial micro-batch under AvailableNow). A stream needs its schema
    up front: it takes the stored one from a driver-only footer read,
    and ts is normalized by the batch catalog's own normalize_events."""
    stored = read_events_stored(spark, sf_dir).schema
    raw = (
        spark.readStream.schema(stored)
        # the fixture is a single parquet *file* and the file stream
        # source requires a directory path — so stream the directory
        # with a glob filter selecting only the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events(raw)


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked streaming dedup on (user_id, event_type): keeps the
    first-seen row per key; rows arriving later than the watermark are
    dropped without growing state (C2's torn-read hazard, solved by
    state + watermark instead of a second buffer). The stream form of
    q_stream_dedup_late, whose row_number a stream cannot run."""
    return events.withWatermark("ts", watermark).dropDuplicates(["user_id", "event_type"])


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into
    an in-memory sink table and return the result as a batch DataFrame."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)
