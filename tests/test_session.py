"""C9: resource detection and derived sizing (session.py)."""

from __future__ import annotations

from presto_cached_examples_spark.session import derived_conf, detect_resources


def test_detect_resources_probes_runtime():
    res = detect_resources()
    assert res["cores"] >= 1
    assert res["available_mem_bytes"] > 0  # /proc/meminfo exists on linux


def test_derived_conf_scales_and_clamps():
    assert derived_conf(32, 128 << 30)["shuffle_partitions"] == 32
    assert derived_conf(1, 0)["shuffle_partitions"] == 4
    # plentiful memory -> split size capped at 128 MiB
    assert derived_conf(32, 128 << 30)["max_partition_bytes"] == 128 << 20
    # tight memory -> floor of 16 MiB, never zero
    assert derived_conf(64, 1 << 30)["max_partition_bytes"] == 16 << 20
    # unknown memory -> safe default
    assert derived_conf(8, 0)["max_partition_bytes"] == 128 << 20


def test_session_reflects_detected_sizing(spark):
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert parts >= 4


# ---- input-size-gated persistence (plans/persistence.py) ----------------

from presto_cached_examples_spark.plans import artifacts, persistence
from presto_cached_examples_spark.registry import all_specs
from tests.conftest import SF_TINY


def _gate_conf(spark, mode):
    spark.conf.set(persistence.MODE_CONF, mode)


def test_persist_gate_auto_off_at_fixture_scale(spark):
    """auto mode: every test fixture (<= ~18 MB) sits far below the
    256 MiB threshold, so maybe_persist returns the frame unchanged and
    tracks nothing — the fixture-scale plan re-scans tiny parquet
    instead of paying an InMemoryRelation build (NOTES r9 item 6)."""
    _gate_conf(spark, "auto")
    artifacts.release(spark)  # earlier tests may have pinned memo values
    df = spark.range(10)
    out = persistence.maybe_persist(df, SF_TINY)
    assert out is df
    assert not df.storageLevel.useMemory
    assert artifacts.release(spark) == 0


def test_persist_gate_auto_on_for_big_or_remote_input(spark):
    """auto mode flips on when the input dir exceeds the threshold and
    for non-local paths (object stores can't be stat'ed — assume
    production scale)."""
    _gate_conf(spark, "auto")
    spark.conf.set(persistence.MIN_BYTES_CONF, "1")  # fixtures now "big"
    try:
        assert persistence.persist_enabled(spark, SF_TINY)
    finally:
        spark.conf.set(persistence.MIN_BYTES_CONF, str(persistence.DEFAULT_MIN_BYTES))
    assert persistence.persist_enabled(spark, "s3://bucket/snapshots/ingest")


def test_persist_gate_on_tracks_and_releases(spark):
    """on mode: the frame is persisted (lazy) and tracked per session;
    artifacts.release unpersists everything exactly once."""
    _gate_conf(spark, "on")
    artifacts.release(spark)  # earlier tests may have pinned memo values
    try:
        df = spark.range(10)
        out = persistence.maybe_persist(df, SF_TINY)
        assert out.storageLevel.useMemory
        assert artifacts.release(spark, blocking=True) == 1
        assert not out.storageLevel.useMemory
        assert artifacts.release(spark) == 0
    finally:
        _gate_conf(spark, "auto")


def test_persist_gate_rejects_unknown_mode(spark):
    import pytest as _pytest

    _gate_conf(spark, "maybe")
    try:
        with _pytest.raises(ValueError):
            persistence.persist_enabled(spark, SF_TINY)
    finally:
        _gate_conf(spark, "auto")


def test_persist_gate_parity(spark, duck):
    """The gate is a semantic no-op: one representative gated query per
    shape (funnel chain, (day,user) expansion, bounded rollup) hashes
    identically against its oracle with the gate forced on and off."""
    from tests.util import assert_frames_match

    specs = all_specs()
    for name in ("q_funnel_windowed", "q_rolling_wau", "q_rolling_wau_approx"):
        spec = specs[name]
        for mode in ("off", "on"):
            _gate_conf(spark, mode)
            try:
                assert_frames_match(
                    spec.fn(spark, SF_TINY), duck.sql(spec.oracle), context=f"{name}[{mode}]"
                )
            finally:
                _gate_conf(spark, "auto")
        artifacts.release(spark, blocking=True)


# ---- generated-code cache sized to the working set (session.py) --------


def test_codegen_cache_holds_the_headline_working_set(spark):
    """A warm pass over the headline set must compile nothing: at Spark's
    100-entry default the LRU evicts each generated class before the
    next pass needs it (~270 recompilations per pass at sf0.001)."""
    from bench import HEADLINE

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    specs = all_specs()

    def run_pass():
        for name in HEADLINE:
            specs[name].fn(spark, SF_TINY).write.format("noop").mode("overwrite").save()

    run_pass()
    run_pass()
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    run_pass()
    assert compiles.METRIC_COMPILATION_TIME().getCount() - before == 0


# ---- Python workers find the package (session.py) -----------------------


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A driver whose working directory is not the repo, with the repo on
    sys.path only, must still run a query whose Python worker imports the
    package (q_mm_features' mapInPandas unpickles a package function)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from presto_cached_examples_spark import get_session, registry\n"
        "spark = get_session()\n"
        f"n = registry.queries()['q_mm_features'](spark, {SF_TINY!r}).count()\n"
        "print('ROWS', n)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = [line for line in out.stdout.splitlines() if line.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, out.stdout[-2000:]
