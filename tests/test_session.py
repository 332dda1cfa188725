"""C9: resource detection and derived sizing (session.py)."""

from __future__ import annotations

import pytest

from presto_cached_examples_spark.registry import all_specs
from presto_cached_examples_spark.session import derived_conf, detect_resources
from tests.conftest import SF_TINY


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


@pytest.mark.parametrize(
    "make_session",
    [
        "get_session()",
        "SparkSession.builder.master('local[2]').config('spark.ui.enabled', 'false').getOrCreate()",
    ],
    ids=["get_session", "bare_builder"],
)
def test_python_workers_import_package_from_any_cwd(tmp_path, make_session):
    """A driver whose working directory is not the repo, with the repo on
    sys.path only, must still run a query whose Python worker imports the
    package (q_mm_features' mapInPandas unpickles a package function),
    whether the session comes from get_session or a bare builder."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from presto_cached_examples_spark import get_session, registry\n"
        f"spark = {make_session}\n"
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
