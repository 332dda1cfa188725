"""Input-size-gated persistence for multi-consumer intermediates.

The round-9 single-scan sweep persisted bounded-grain intermediates
(per-user funnel stages, (day,user) activity relations, month/label
rollups) so each fact table is scanned once per query regardless of
how many consumers the intermediate has — at 100 TB the fact scans
ARE the query's cost, so one InMemoryRelation build beats 1-7 repeat
scans every time. At fixture scale the trade inverts: building and
caching the intermediate costs more wall-clock than re-scanning a
tens-of-MB parquet file (round-9 measured ~0.3-0.5 s per affected
query), which is why the v2 bench total drifted 66.6 -> 77.3 s.

This module is the conf-gate NOTES round-9 item 6 named: persist only
when the input relation is large enough that re-derivation would
re-scan a non-trivial fact table. The gate is a semantic no-op —
``maybe_persist`` never changes results, only whether the plan carries
an InMemoryRelation — so correctness parity holds in both positions
(pinned by tests/test_session.py::test_persist_gate_parity).

Knobs (read per-call from the session conf, so tools can force either
position without rebuilding the session):

- ``spark.pce.persistIntermediates`` = ``on`` | ``off`` | ``auto``
  (default ``auto``). ``on`` is the 100-TB posture and what
  tools/plan_report.py forces so PLANS.md documents the scale-path
  plan; ``auto`` measures the input directory once per process.
- ``spark.pce.persistIntermediates.minInputBytes`` (default 256 MiB):
  the ``auto`` threshold. Every test fixture (sf0.001-sf0.1, <= ~18 MB)
  falls below it; any real deployment's fact tables sit far above it.
  Non-local input paths (s3://, hdfs://) can't be stat'ed cheaply and
  are assumed production-scale: ``auto`` -> on.

Lifecycle: every DataFrame this module persists is tracked in the
session-artifact store (plans/artifacts.py), and
``artifacts.release(spark)`` unpersists it together with the session's
persisted memo values, so entity-scaled entries (per-user grains) have
an explicit teardown instead of leaning on LRU eviction for the whole
session. Long-running drivers should call it between query batches.

Grain classes (ADVICE r15 item 3): most gated intermediates are
bounded-grain (per-key rollups), but some are INPUT-PROPORTIONAL —
q_quality_dsir's (doc_id, bucket) token-count grain grows with the
corpus. That is a deliberate trade the gate makes exactly when inputs
are large: the persist is MEMORY_AND_DISK (spills, never OOMs), it
halves the number of corpus-wide explode passes, and it is released by
``artifacts.release``. Callers adding a new input-proportional
persist should weigh the second scan against the footprint the same
way and say so at the call site.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from presto_cached_examples_spark.plans.artifacts import track

MODE_CONF = "spark.pce.persistIntermediates"
MIN_BYTES_CONF = "spark.pce.persistIntermediates.minInputBytes"
DEFAULT_MIN_BYTES = 256 << 20  # 256 MiB

# input-size probe result per sf_dir — the directory is immutable for a
# process's life (fixtures are read-only; production ingest dirs are
# snapshot paths), so one os.walk per path is enough.
_DIR_BYTES: dict[str, int] = {}


def _input_bytes(sf_dir: str) -> int:
    """Total bytes under ``sf_dir``; -1 for paths os.walk can't see
    (object-store URIs, remote filesystems) — treated as huge."""
    cached = _DIR_BYTES.get(sf_dir)
    if cached is not None:
        return cached
    if not os.path.isdir(sf_dir):
        _DIR_BYTES[sf_dir] = -1
        return -1
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    _DIR_BYTES[sf_dir] = total
    return total


def persist_enabled(spark: SparkSession, sf_dir: str) -> bool:
    """Decide the gate for one query build (conf read per call)."""
    mode = spark.conf.get(MODE_CONF, "auto")
    if mode == "on":
        return True
    if mode == "off":
        return False
    if mode != "auto":
        raise ValueError(f"{MODE_CONF} must be on|off|auto, got {mode!r}")
    min_bytes = int(spark.conf.get(MIN_BYTES_CONF, str(DEFAULT_MIN_BYTES)))
    size = _input_bytes(sf_dir)
    return size < 0 or size >= min_bytes


def maybe_persist(df: DataFrame, sf_dir: str) -> DataFrame:
    """Persist ``df`` (lazy, default MEMORY_AND_DISK) iff the gate says
    the input is scan-expensive; otherwise return it unchanged.

    Use for per-query bounded-grain intermediates with >1 consumer.
    Session-memoized artifacts (codebooks, the hourly tier) stay on plain
    ``persist()`` — their build cost amortizes across calls, so the
    fixture-scale trade never inverts for them.
    """
    spark = df.sparkSession
    if not persist_enabled(spark, sf_dir):
        return df
    return track(df.persist())
