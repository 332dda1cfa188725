"""SparkSession factory — the engine's bring-up path.

Reference analog (SURVEY.md §2.A R1-R4): `PicoPlusPsram::getInstance()`
(/root/reference/src/PicoPlusPsram.h:61-65) lazily constructs the one
allocator instance, and its ctor sizes/tunes the memory + IO path
(/root/reference/src/PicoPlusPsram.cpp:14-29,107-203). Here the same
role is played by `SparkSession.builder.getOrCreate()` plus a fixed set
of configs sized for the target: AQE for runtime re-planning, Arrow for
the pandas boundary, shuffle partitions matched to parallelism rather
than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "presto-cached-examples-spark"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cpus() -> str:
    """Parallelism knob; the driver exports SPARK_GRAFT_CPUS for bench."""
    return os.environ.get("SPARK_GRAFT_CPUS", "*")


def detect_resources() -> dict[str, int]:
    """C9 analog of the reference's `PicoPlusPsram::Detect()`
    (/root/reference/src/PicoPlusPsram.cpp:32-105): probe what the
    runtime actually has — cores and available memory — instead of
    trusting static defaults. On a cluster the same numbers come from
    the resource manager; here they size shuffle width and split bytes."""
    cores = os.cpu_count() or 4
    mem_bytes = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    mem_bytes = int(line.split()[1]) * 1024
                    break
    except OSError:
        mem_bytes = 0  # non-linux or unreadable /proc — sizes fall back
    return {"cores": cores, "available_mem_bytes": mem_bytes}


def derived_conf(cores: int, mem_bytes: int) -> dict[str, int]:
    """Size the partition knobs from detected resources.

    shuffle_partitions = cores (floor 4): one reducer wave; AQE
    coalesces small outputs and splits skew, so over-provisioning here
    only adds scheduling overhead at this scale (at cluster scale use
    2-3× total cores to hide stragglers). max_partition_bytes targets
    ≥8 concurrent splits per core staying well under available memory,
    clamped to [16 MiB, 128 MiB]."""
    shuffle_partitions = max(cores, 4)
    if mem_bytes > 0:
        per_task = mem_bytes // (cores * 8)
        max_partition_bytes = max(16 << 20, min(128 << 20, per_task))
    else:
        max_partition_bytes = 128 << 20
    return {
        "shuffle_partitions": shuffle_partitions,
        "max_partition_bytes": max_partition_bytes,
    }


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def session_token(spark: SparkSession) -> str:
    """Session-lifetime cache key for DataFrame memos.

    `id(spark)` is unsafe: stop a session and CPython may hand the same
    id to its successor, so a memo keyed on it can return a DataFrame
    bound to a dead SparkContext (whose localCheckpoint blocks are
    gone). `applicationId` embeds the context start time, is stable for
    the context's life, and is never reused by a restart — so a new
    session always misses the memo and rebuilds."""
    return spark.sparkContext.applicationId


def get_session(
    app_name: str = DEFAULT_APP_NAME,
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session with scale-aware defaults.

    The configs mirror the reference's init-time IO tuning (clock
    divisor / page-break sizing, PicoPlusPsram.cpp:139-170) as the
    Spark-native knobs: partition byte sizing, AQE coalescing/skew
    handling, broadcast threshold.
    """
    cpus = str(cpus if cpus is not None else default_cpus())
    res = detect_resources()
    sized = derived_conf(
        res["cores"] if cpus == "*" else max(int(cpus), 1), res["available_mem_bytes"]
    )
    if shuffle_partitions is None:
        shuffle_partitions = sized["shuffle_partitions"]

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(sized["max_partition_bytes"]))
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate copies the WHOLE generator child into
        # a `size(child) > 0` filter below explode()/inline(). Every
        # exploded array in this engine is a computed expression
        # (shingles, n-grams, band structs, pair HOFs), so the rule
        # re-evaluates that CPU-heavy construction a second time per
        # row — and because the filter sinks below the spread()
        # repartition, the duplicate runs at the SCAN's parallelism
        # (sf0.1: 1-2 tasks) instead of the cluster's. The rows it
        # could remove (empty gram arrays) are ~0 on any real corpus,
        # so it is pure duplicated work at every scale. Round-15 A/B
        # (alternating same-session pairs, min of 4): q_decontam_hashed
        # 1.85s -> 0.34s, q_contamination_report 1.76s -> 0.45s, no
        # query slower. Excluding an optimizer rule cannot change
        # results, only plans (verified: 245/245 oracle sweep).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as int64 ns and convert at the catalog edge
        # (sources/catalog.py) — same µs truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Generated-code cache sized to the working set. At Spark's
        # 100-entry default the LRU evicts each class before it is
        # reused: one 25-query headline pass compiles ~280 classes, so
        # every warm pass recompiled ~270 of them, and a warm sweep of
        # the whole registry at sf0.001 recompiled ~3,400. Distinct
        # classes of one session that sweeps all 245 queries at
        # sf0.001 and then sf0.01 (as the tier-1 tests do): 2,693 +
        # 177 = 2,870 (pyspark 4.1.2), so 8192 is ~2.9x the working
        # set. Cost: ~17 MB more Metaspace after such a sweep (NOTES.md
        # "Decisions with rationale" has the measurements). A static
        # conf cannot change once the JVM is up, so a session not built
        # by get_session keeps the 100-entry default; that includes
        # tools/driver_sim.py's bare session.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package_to_workers(spark)
    return spark


def ship_package_to_workers(spark: SparkSession) -> None:
    """Put the package's parent on the Python workers' ``PYTHONPATH``.

    Python workers unpickle this package's UDFs and so import it; they
    see the environment of the Python functions Spark ships, not the
    driver's sys.path, so without this they find the package only when
    the driver's working directory is the repo. Spark copies the
    environment into each Python function when the function is created,
    so call this before building one. It edits a driver-side dict and
    makes no JVM call."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
