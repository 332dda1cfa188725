"""Same-box benchmark of the engine, one workload per process.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Workloads:
  headline      the frozen 25-query ``bench.HEADLINE`` set at sf0.01
  ingest_serve  ``events`` (sf0.1) folded through IncrementalAggregator
                while a reader thread queries the published snapshot
  llm_build     the build-heavy LLM queries at sf0.01 (run by hand; its
                cold pass is too long for the declared run budget)

Each run reads the engine's test fixtures, copied under
``perfbench/fixtures``, starts the engine at ``local[nproc]`` with a JVM
heap sized from MemAvailable, works in a private directory under
``.bench_build/perfbench`` that it removes on exit, checks the outputs,
and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. A full record
of the run (environment, samples, spans) is written to
``.bench_build/perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

#: byte copies of the engine's test fixtures; the tables are fixed and
#: --seed picks the query order, the ingest batch split and the user
FIXTURES = os.path.join(HERE, "fixtures")

LLM_BUILD = [
    "q_dedup_near",
    "q_sim_topk_kmeans",
    "q_sim_pq",
    "q_sim_adc",
    "q_ann_pipeline",
    "q_ann_recall_sweep",
    "q_sim_topk_lsh",
    "q_curation_pipeline",
    "q_basket_rules",
    "q_text_pmi",
    "q_rfm_segments",
]
QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
#: workload -> (scale factor of its fixtures, tables loaded at set-up)
WORKLOADS = {
    "headline": ("0.01", QUERY_TABLES),
    "llm_build": ("0.01", QUERY_TABLES),
    "ingest_serve": ("0.1", ("events",)),
}

#: metric -> unit. END_TO_END is reported with --trace 0, PER_LAYER with
#: --trace 1; a layer that a workload never calls reports 0.
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_ms": "ms",
}
PER_LAYER = {
    "session.get_session_s": "s",
    "catalog.load_table_ms": "ms",
    "registry.build_ms": "ms",
    "registry.build_jobs": "count",
    "registry.build_ms_cold": "ms",
    "registry.build_jobs_cold": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.busy_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_ms": "ms",
    "incremental.update_ms": "ms",
    "incremental.merge_ms": "ms",
    "snapshot.publish_ms": "ms",
    "snapshot.read_ms": "ms",
    "snapshot.versions": "count",
    "snapshot.reads_torn": "count",
    "storage.cached_bytes_end": "bytes",
    "storage.cached_rdds_end": "count",
    "trace.overhead_ratio": "ratio",
    # per-layer, not end-to-end: it does not repeat within a tenth
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, value = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(value.split()[0]) // 1024
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Context:
    """One run's session, inputs and settings, passed to a workload."""

    def __init__(self, args, run_dir: str, data_dir: str, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.cores = cores
        self.spark = None
        self.tracer = None
        self.tables: dict = {}
        self.storage = {"storage.cached_bytes_end": 0, "storage.cached_rdds_end": 0}

    def spark_conf(self, driver_mb: int) -> dict[str, str]:
        return {
            "spark.driver.memory": f"{driver_mb}m",
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(self.run_dir, "streaming"),
            # keep every job and stage of a run readable for the tracer
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    log = staticmethod(log)

    def snapshot_storage(self) -> None:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.storage = {
            "storage.cached_bytes_end": sum(i.memSize() + i.diskSize() for i in infos),
            "storage.cached_rdds_end": sum(1 for i in infos if i.numCachedPartitions() > 0),
        }


def set_up(ctx: Context, conf: dict[str, str], tables: tuple[str, ...]) -> dict[str, float]:
    """Start the session, which launches the JVM, and load the workload's
    tables. ``setup_s`` runs from the start of this process until the
    tables are loaded, so it includes the Python imports as well."""
    from presto_cached_examples_spark import get_session, load_table

    from spans import Tracer

    t0 = time.perf_counter()
    ctx.spark = get_session(app_name="perfbench", cpus=str(ctx.cores), extra_conf=conf)
    t1 = time.perf_counter()
    ctx.tables = {name: load_table(ctx.spark, ctx.data_dir, name) for name in tables}
    t2 = time.perf_counter()
    ctx.spark.sparkContext.setCheckpointDir(os.path.join(ctx.run_dir, "checkpoints"))
    ctx.tracer = Tracer(ctx.spark, enabled=ctx.trace)
    return {
        "setup_s": t2 - T_START,
        "session.get_session_s": t1 - t0,
        "catalog.load_table_ms": (t2 - t1) * 1000.0,
    }


def stop_spark(ctx: Context) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def metrics_of(ctx: Context, setup: dict, m, peak_rss: float) -> dict[str, float]:
    from stats import nearest_rank

    med = statistics.median
    if not ctx.trace:
        return {
            "setup_s": setup["setup_s"],
            "cold_pass_s": m.cold_pass_s,
            "pass_s": med(m.warm_pass_s),
            "query_p50_ms": nearest_rank(m.op_ms, 50),
        }
    values = dict.fromkeys(PER_LAYER, 0)
    values.update(m.layers)
    values.update(ctx.storage)
    values["session.get_session_s"] = setup["session.get_session_s"]
    values["catalog.load_table_ms"] = setup["catalog.load_table_ms"]
    values["snapshot.versions"] = m.notes.get("versions", 0)
    values["trace.overhead_ratio"] = med(m.traced_pass_s) / med(m.warm_pass_s)
    values["peak_rss_mb"] = peak_rss
    return values


def run(args) -> dict:
    import bench
    import pyspark

    import workloads
    from stats import quartile_spread, tail_percentile

    sf, tables = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    mem = meminfo_mb()
    ticks_before = cpu_ticks()
    driver_mb = max(1024, min(4096, mem["MemAvailable"] // 4))
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": sf,
        "cores": cores,
        "mem_total_mb": mem["MemTotal"],
        "mem_available_mb": mem["MemAvailable"],
        "driver_memory_mb": driver_mb,
        "load_1m_before": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    ctx = Context(args, run_dir, os.path.join(FIXTURES, f"sf{sf}"), cores)
    try:
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        # every JVM the run starts, the spark-submit launcher included
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        # Python workers import the engine (pickled by reference)
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
        setup = set_up(ctx, ctx.spark_conf(driver_mb), tables)
        log("set up")
        if args.workload == "ingest_serve":
            m = workloads.ingest_workload(ctx)
        else:
            names = bench.HEADLINE if args.workload == "headline" else LLM_BUILD
            m = workloads.query_workload(ctx, names)
        log("workload done")
        jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        metrics = metrics_of(ctx, setup, m, peak_rss)
        env["load_1m_after"] = os.getloadavg()[0]
        # CPU time the hypervisor gave to other guests during the run
        steal, total = (b - a for a, b in zip(ticks_before, cpu_ticks()))
        env["cpu_steal_share"] = steal / total if total else 0.0
        tail = tail_percentile(m.op_ms) if m.op_ms else None
        record = {
            "env": env,
            "op_samples": len(m.op_ms),
            "op_tail_percentile": tail,
            "setup": setup,
            "cold_pass_s": m.cold_pass_s,
            "warm_pass_s": m.warm_pass_s,
            "warm_pass_spread": quartile_spread(m.warm_pass_s) if len(m.warm_pass_s) > 1 else None,
            "traced_pass_s": m.traced_pass_s,
            "op_ms": m.op_ms,
            "notes": m.notes,
            "metrics": metrics,
            "spans": ctx.tracer.dump() if ctx.trace else [],
        }
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out, "w") as f:
            json.dump(record, f, indent=1)
    finally:
        stop_spark(ctx)
        shutil.rmtree(run_dir, ignore_errors=True)
        log("stopped")
    print(
        f"perfbench: {args.workload} seed={args.seed} cores={cores} "
        f"warm passes={len(m.warm_pass_s)}+{len(m.traced_pass_s)} traced, "
        f"op samples={len(m.op_ms)} (highest percentile with 10 beyond: {tail}), record in {out}",
        file=sys.stderr,
    )
    return {
        "correct": m.failed == 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": {k: {"value": v, "unit": {**END_TO_END, **PER_LAYER}[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import bench  # noqa: F401
        import presto_cached_examples_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
