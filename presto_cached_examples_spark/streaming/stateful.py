"""Custom stateful streaming operator: per-key delta tracking.

This is the reference's Touch-state machine made literal: `ReadTouch()`
keeps the previous (x, y) per touch id and emits dx/dy against it
(/root/reference/src/FT6236.h:110-113, state array at :130). Here the
key is user_id, the state is the last (ts, value) seen, and each event
emits its delta vs that state — via applyInPandasWithState, Spark's
arbitrary-stateful-processing API.

Scale posture: state lives in the state store, partitioned by key —
per-key state is two scalars, so total state is O(distinct users) and
evenly spread. tests/test_streaming.py checks the streamed deltas
against the window-lag form over the batch table.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DELTA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("value_delta", T.DoubleType()),
        T.StructField("us_since_prev", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)


def _deltas_for_group(pdf: pd.DataFrame, last_us, last_value) -> tuple[pd.DataFrame, int, float]:
    """Pure per-group delta computation. Rows are processed in
    (ts, event_id) order; returns the output frame plus the final state."""
    pdf = pdf.sort_values(["ts", "event_id"])
    out = {
        "user_id": pdf["user_id"],
        "event_id": pdf["event_id"],
        "ts": pdf["ts"],
        "value": pdf["value"],
    }
    us = pdf["ts"].astype("int64") // 1000  # pandas ns → µs
    prev_us = us.shift(1)
    prev_val = pdf["value"].shift(1)
    if last_us is not None:
        prev_us.iloc[0] = last_us
        prev_val.iloc[0] = last_value
    out_df = pd.DataFrame(out)
    out_df["value_delta"] = pdf["value"] - prev_val
    out_df["us_since_prev"] = us - prev_us
    return out_df, int(us.iloc[-1]), float(pdf["value"].iloc[-1])


def _stateful_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last_us, last_value = state.get if state.exists else (None, None)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        out, last_us, last_value = _deltas_for_group(pdf, last_us, last_value)
        yield out
    if last_us is not None:
        state.update((last_us, last_value))


def event_deltas_stateful(events: DataFrame) -> DataFrame:
    """Streaming per-user deltas with explicit keyed state."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _stateful_fn,
            outputStructType=DELTA_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
