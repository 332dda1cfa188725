"""The benchmark's workloads, driven through the engine's public calls.

``query_workload`` runs a fixed query list (one closed-loop client):
a cold pass in a fresh session, then warm passes in a seeded order,
each query built with ``registry.queries()[name](spark, sf_dir)`` and
executed through its own QueryExecution, draining every row as a noop
sink does. ``ingest_workload`` folds seeded batches of
``events`` through ``IncrementalAggregator`` (one writer thread) while
one reader thread queries the published snapshot.

Both return a ``Measured`` record; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import random
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from stats import torn_reads
from spans import Tracer, catalyst_phases

#: Untimed warm-up passes follow the cold pass: the first passes after
#: it are still fast-changing as the JIT compiles (a headline pass drops
#: from about 13.5 s to 11.5 s, an ingest pass from 4.4 s to 3.2 s over
#: its first four), and how fast they change depends on the CPU time the
#: compiler threads get on a shared host. Warm passes then run for
#: ``--seconds``, but at least a workload's minimum number of them, and
#: (untraced) until MIN_OP_SAMPLES latencies are in: 20 samples leave
#: ten beyond the reported p50.
QUERY_WARMUP_PASSES = 1
QUERY_WARM_PASSES = 2
INGEST_WARMUP_PASSES = 3
INGEST_WARM_PASSES = 4
MIN_OP_SAMPLES = 20

INGEST_BATCHES = 4
CHECKPOINT_EVERY = 2  # two whole checkpoint windows per ingest pass
INGEST_KEYS = ["user_id", "event_type"]


@dataclass
class Measured:
    cold_pass_s: float = 0.0
    warm_pass_s: list[float] = field(default_factory=list)  # untraced
    traced_pass_s: list[float] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)  # warm, untraced
    attempted: int = 0
    failed: int = 0
    layers: dict = field(default_factory=dict)  # workload-specific per-layer values
    notes: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}\n{traceback.format_exc()}", file=sys.stderr)


def _warm_passes(seconds: float, trace: bool, run_pass, samples, min_passes: int) -> None:
    """Run warm passes until ``seconds`` have elapsed and the minimums
    above are met. A traced run alternates untraced and traced passes,
    so the two can be compared for the tracing overhead; it ends on an
    untraced pass, so that untraced passes bracket the traced ones while
    passes still speed up, and it waits for no latency samples."""
    t0 = time.perf_counter()
    i = 0
    while (
        i < min_passes
        or time.perf_counter() - t0 < seconds
        or (not trace and len(samples) < MIN_OP_SAMPLES)
        or (trace and i % 2 == 0)
    ):
        run_pass(i, traced=trace and i % 2 == 1)
        i += 1


# --------------------------------------------------------------------------
# query workloads


def query_workload(ctx, names: list[str]) -> Measured:
    from presto_cached_examples_spark import registry

    spark, sf_dir, tracer = ctx.spark, ctx.data_dir, ctx.tracer
    qs = registry.queries()
    m = Measured()
    rng = random.Random(ctx.seed)

    outputs = {}

    def run_pass(label: str, order: list[str], traced: bool, collect=False) -> tuple[float, list[float]]:
        lat = []
        t_pass = time.perf_counter()
        with tracer.span("pass", active=traced, label=label):
            for name in order:
                m.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span("query", active=traced, query=name):
                        with tracer.span("build", active=traced):
                            df = qs[name](spark, sf_dir)
                        with tracer.span("plan", active=traced) as sp:
                            if sp is not None:
                                sp.attrs.update(catalyst_phases(df))
                        with tracer.span("execute", active=traced):
                            if collect:
                                outputs[name] = df.toPandas()
                            else:
                                execute(df)
                except Exception:
                    m.fail(f"query {name}")
                    continue
                lat.append((time.perf_counter() - t0) * 1000.0)
        return time.perf_counter() - t_pass, lat

    # The cold pass delivers every result to the client. They are checked
    # against the oracles in a thread beside the untimed warm-up pass,
    # which saves the 5 s the check takes from a run budget that has none
    # to spare; the check is done before the timed passes start.
    m.cold_pass_s, _ = run_pass("cold", list(names), traced=ctx.trace, collect=True)
    ctx.log("cold pass done")

    with ThreadPoolExecutor(max_workers=1) as pool:
        checked = pool.submit(_check_outputs, ctx.data_dir, outputs, names)
        for i in range(QUERY_WARMUP_PASSES):
            run_pass(f"warmup{i}", rng.sample(names, len(names)), traced=False)
        check_failed = checked.result()
    m.attempted += len(names)
    m.failed += check_failed
    ctx.log("warm-up pass and output check done")

    def warm(i: int, traced: bool) -> None:
        order = rng.sample(names, len(names))
        pass_s, lat = run_pass(f"warm{i}", order, traced)
        if traced:
            m.traced_pass_s.append(pass_s)
        else:
            m.warm_pass_s.append(pass_s)
            m.op_ms.extend(lat)

    _warm_passes(ctx.seconds, ctx.trace, warm, m.op_ms, QUERY_WARM_PASSES)
    ctx.log("warm passes done")
    ctx.snapshot_storage()
    if ctx.trace:
        m.layers = _query_layers(tracer, ctx.cores)
    return m


def execute(df) -> int:
    """Run ``df``'s own QueryExecution and drop the rows, as a noop sink
    would. A noop write would analyze, optimize and plan the query again
    in a QueryExecution of its own, so the Catalyst phases read from
    ``df`` would not be those of the plan that ran."""
    return df._jdf.queryExecution().toRdd().count()


def _check_outputs(data_dir: str, outputs: dict, names: list[str]) -> int:
    """Hash each query's output (untimed) and compare it with DuckDB
    running the registry oracle on the same parquet files. A query with
    no output failed in the cold pass and is counted there already."""
    import duckdb
    from presto_cached_examples_spark import registry
    from presto_cached_examples_spark.sources.catalog import TABLES, table_path
    from tools.check_oracles import canon

    oracles = registry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(data_dir, t)}'")
    failed = 0
    for name in names:
        if name not in outputs:
            continue
        try:
            got = canon(outputs[name])
            if name not in oracles:
                ok = got[0] > 0
            else:
                ok = got == canon(con.sql(oracles[name]).df())
        except Exception:
            print(f"perfbench: check of {name} raised\n{traceback.format_exc()}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {name} does not match its oracle", file=sys.stderr)
            failed += 1
    con.close()
    return failed


def _pass_layers(tracer: Tracer, pass_span, cores: int) -> dict[str, float]:
    builds, plans, execs = [], [], []
    for q in tracer.children(pass_span, "query"):
        builds += tracer.children(q, "build")
        plans += tracer.children(q, "plan")
        execs += tracer.children(q, "execute")
    out = {
        "registry.build_ms": sum(s.ms for s in builds),
        "registry.build_jobs": sum(s.jobs for s in builds),
        "catalyst.analysis_ms": sum(s.attrs["analysis"] for s in plans),
        "catalyst.optimization_ms": sum(s.attrs["optimization"] for s in plans),
        "catalyst.planning_ms": sum(s.attrs["planning"] for s in plans),
    }
    out.update(_exec_layers(execs, pass_span.ms, cores))
    return out


def _exec_layers(spans, wall_ms: float, cores: int) -> dict[str, float]:
    total = lambda key: sum(s.stage_totals[key] for s in spans)  # noqa: E731
    run_ms = total("executor_run_ms")
    return {
        "exec.ms": sum(s.ms for s in spans),
        "exec.jobs": sum(s.jobs for s in spans),
        "exec.stages": sum(s.stages for s in spans),
        "exec.tasks": sum(s.tasks for s in spans),
        "exec.executor_run_ms": run_ms,
        "exec.busy_ratio": run_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "exec.shuffle_read_bytes": total("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": total("shuffle_write_bytes"),
        "exec.spill_bytes": total("memory_spill_bytes") + total("disk_spill_bytes"),
        "exec.gc_ms": total("gc_ms"),
    }


def _median_layers(per_pass: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def _query_layers(tracer: Tracer, cores: int) -> dict[str, float]:
    tracer.finish()
    passes = [s for s in tracer.spans if s.name == "pass"]
    cold = [p for p in passes if p.attrs["label"] == "cold"]
    warm = [p for p in passes if p.attrs["label"] != "cold"]
    out = _median_layers([_pass_layers(tracer, p, cores) for p in warm])
    cold_layers = _pass_layers(tracer, cold[0], cores)
    out["registry.build_ms_cold"] = cold_layers["registry.build_ms"]
    out["registry.build_jobs_cold"] = cold_layers["registry.build_jobs"]
    return out


# --------------------------------------------------------------------------
# ingest_serve


def batch_of(event_ids, seed: int, n_batches: int):
    """Seeded hash split of event ids into batches; the same arithmetic
    runs on numpy arrays and on Spark columns."""
    return ((event_ids * 7919 + seed * 104_729) % 1_000_003) % n_batches


class _Holder:
    """What the writer shares with the reader thread."""

    def __init__(self):
        self.lock = threading.Lock()
        self.agg = None
        self.pass_index = -1
        self.traced = False
        self.warm = False
        self.stop = False


class _TracedPublisher:
    """Wraps an aggregator's SnapshotPublisher so each publish is a span."""

    def __init__(self, inner, tracer: Tracer):
        self._inner, self._tracer = inner, tracer

    def publish(self, df):
        with self._tracer.span("publish"):
            return self._inner.publish(df)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def ingest_workload(ctx) -> Measured:
    """Writes beside reads: fold every batch through a fresh
    IncrementalAggregator per pass while a reader thread queries the
    published snapshot (top-10 by sum_v, a point lookup, total n)."""
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.sources.catalog import table_path
    from presto_cached_examples_spark.streaming.incremental import IncrementalAggregator

    spark, tracer = ctx.spark, ctx.tracer
    m = Measured()
    # the oracle side of the checks reads the same file with pyarrow
    events_table = pq.read_table(
        table_path(ctx.data_dir, "events"), columns=["event_id", "user_id", "event_type", "value"]
    )
    ids = events_table.column("event_id").to_numpy()
    sizes = np.bincount(batch_of(ids, ctx.seed, INGEST_BATCHES), minlength=INGEST_BATCHES).tolist()
    events = ctx.tables["events"]
    batch_col = batch_of(F.col("event_id"), ctx.seed, INGEST_BATCHES)
    batches = [events.filter(batch_col == b) for b in range(INGEST_BATCHES)]
    user = random.Random(ctx.seed).randrange(int(events_table.column("user_id").to_numpy().max()) + 1)
    holder = _Holder()
    versions = 0
    # written by the reader thread only; read after it has been joined
    reads = Measured()
    totals: list[int] = []

    def reader() -> None:
        # One iteration per published version: the reader never re-reads
        # a version it has seen, so how many reads race a fold is set by
        # the folds, not by thread timing.
        seen = None
        while not holder.stop:
            with holder.lock:
                agg, traced, warm = holder.agg, holder.traced, holder.warm
                version = (holder.pass_index, agg.publisher.version) if agg is not None else None
                snap = agg.current() if version not in (None, seen) else None
            if snap is None:
                time.sleep(0.002)
                continue
            seen = version
            reads.attempted += 1
            queries = (
                snap.orderBy(F.desc("sum_v"), *INGEST_KEYS).limit(10),
                snap.filter(F.col("user_id") == user),
                snap.agg(F.sum("n").alias("n")),
            )
            lat = []
            try:
                with tracer.span("read", active=traced) as sp:
                    for df in queries:
                        t0 = time.perf_counter()
                        rows = df.collect()
                        lat.append((time.perf_counter() - t0) * 1000.0)
                    if sp is not None:
                        for df in queries:
                            for k, v in catalyst_phases(df).items():
                                sp.attrs[k] = sp.attrs.get(k, 0.0) + v
            except Exception:
                reads.fail("snapshot read")
                continue
            totals.append(int(rows[0]["n"]))
            if warm and not traced:
                reads.op_ms.extend(lat)

    def run_pass(i: int, traced: bool, measured: bool) -> float:
        nonlocal versions
        agg = IncrementalAggregator(
            spark, INGEST_KEYS, "value", name=f"perfbench_ingest_{i}", checkpoint_every=CHECKPOINT_EVERY
        )
        if traced:
            agg.publisher = _TracedPublisher(agg.publisher, tracer)
        t0 = time.perf_counter()
        with tracer.span("pass", active=traced, label=str(i)):
            for b, batch in enumerate(batches):
                m.attempted += 1
                try:
                    with tracer.span("fold", active=traced):
                        agg.update(batch)
                except Exception:
                    m.fail(f"fold of batch {b}")
                if b == 0:
                    with holder.lock:
                        old, holder.agg = holder.agg, agg
                        holder.pass_index, holder.traced, holder.warm = i, traced, measured
                    if old is not None:
                        old.publisher.drop()
        versions += agg.publisher.version
        return time.perf_counter() - t0

    thread = threading.Thread(target=reader, name="perfbench-reader")
    thread.start()
    try:
        m.cold_pass_s = run_pass(0, traced=ctx.trace, measured=False)
        for i in range(INGEST_WARMUP_PASSES):
            run_pass(i + 1, traced=False, measured=False)

        def warm(i: int, traced: bool) -> None:
            pass_s = run_pass(i + 1 + INGEST_WARMUP_PASSES, traced, measured=True)
            (m.traced_pass_s if traced else m.warm_pass_s).append(pass_s)

        _warm_passes(ctx.seconds, ctx.trace, warm, reads.op_ms, INGEST_WARM_PASSES)
    finally:
        holder.stop = True
        thread.join()
    m.op_ms = reads.op_ms
    torn = torn_reads(totals, sizes)
    m.attempted += reads.attempted
    m.failed += reads.failed + torn
    ctx.snapshot_storage()
    m.attempted += 1
    if not _check_snapshot(holder.agg.current().toPandas(), events_table):
        m.failed += 1
        print("perfbench: final snapshot differs from a one-shot groupBy", file=sys.stderr)
    m.notes = {
        "batch_sizes": sizes,
        "reads": len(totals),
        "reads_torn": torn,
        "lookup_user": user,
        "versions": versions,
    }
    if ctx.trace:
        m.layers = _ingest_layers(tracer, ctx.cores, torn)
    return m


def _check_snapshot(snap, events_table) -> bool:
    """The final snapshot must equal a one-shot groupBy over all events:
    counts, minima and maxima exactly; sums and averages to the
    snapshot's two-decimal rounding."""
    df = events_table.select(INGEST_KEYS + ["value"]).to_pandas()
    want = df.groupby(INGEST_KEYS)["value"].agg(["count", "sum", "min", "max"]).reset_index()
    got = snap.merge(want, on=INGEST_KEYS, how="outer", indicator=True)
    if len(snap) != len(want) or (got["_merge"] != "both").any():
        return False
    return bool(
        (got["n"] == got["count"]).all()
        and ((got["sum_v"] - got["sum"]).abs() <= 0.0051).all()
        and ((got["min_v"] - got["min"]).abs() <= 1e-9).all()
        and ((got["max_v"] - got["max"]).abs() <= 1e-9).all()
        and ((got["avg_v"] - got["sum"] / got["count"]).abs() <= 0.0051).all()
    )


def _ingest_layers(tracer: Tracer, cores: int, torn: int) -> dict[str, float]:
    tracer.finish()
    passes = [s for s in tracer.spans if s.name == "pass" and s.attrs["label"] != "0"]
    folds = [f for p in passes for f in tracer.children(p, "fold")]
    publishes = [c for f in folds for c in tracer.children(f, "publish")]
    reads = [s for s in tracer.spans if s.name == "read"]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    per_pass = []
    for p in passes:
        pass_folds = tracer.children(p, "fold")
        pass_jobs = pass_folds + [c for f in pass_folds for c in tracer.children(f, "publish")]
        layers = _exec_layers(pass_jobs, p.ms, cores)
        layers["exec.ms"] = sum(f.ms for f in pass_folds)
        per_pass.append(layers)
    out = _median_layers(per_pass)
    out.update(
        {
            "incremental.update_ms": med([f.ms for f in folds]),
            "incremental.merge_ms": med([tracer.self_ms(f) for f in folds]),
            "snapshot.publish_ms": med([p.ms for p in publishes]),
            "snapshot.read_ms": med([r.ms for r in reads]),
            "snapshot.reads_torn": torn,
            "catalyst.analysis_ms": med([r.attrs.get("analysis", 0.0) for r in reads]),
            "catalyst.optimization_ms": med([r.attrs.get("optimization", 0.0) for r in reads]),
            "catalyst.planning_ms": med([r.attrs.get("planning", 0.0) for r in reads]),
        }
    )
    return out
