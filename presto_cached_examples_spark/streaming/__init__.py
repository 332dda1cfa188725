"""Streaming — windowed aggregation, watermarked dedup, stateful
operators, and the reference's pipeline pillars made literal:

- C3 (double-buffer atomic swap, DoublePsramBuffer480x480.cpp:196-202)
  → plans/snapshot.py SnapshotPublisher.
- C4 (incremental dirty-rect clear, DoublePsramBuffer480x480.cpp:176-180)
  → incremental.py IncrementalAggregator.
- C5 (polled event source with per-event deltas, FT6236.h:85-119)
  → stateful.py per-key delta operator + windows.py lag queries.

Each streamable query in windows.py is one plan function over an
`events` frame. Its registered builder runs it on the batch table, the
batch twin (same result, SQL-checkable), and the stream runs the same
function on runner.read_events_stream, so the driver's weaker rows-only
streaming check is never load-bearing (SURVEY.md §7 M3).
"""
