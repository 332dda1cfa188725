"""Per-query layer ledger: where each registered query spends its time.

    python tools/ledger.py [--sf DIR] [--passes N] [--out FILE] [query ...]

Runs the named queries (every registered one by default) in a cold
pass, then in ``--passes`` warm passes; every pass runs each query once,
in turn. Each run is split into the benchmark's layers by perfbench's
own tracer (``perfbench/spans.py``), query execution and layer sums
(``perfbench/workloads.py``), so a name here means what it means in a
traced perfbench run:

  registry.build_ms, registry.build_jobs   the builder, with the jobs it runs
  catalyst.{analysis,optimization,planning}_ms
  exec.*             the query's own execution: ms, jobs, stages, tasks,
                     shuffle read/write bytes, spill, GC
  codegen.compiles   generated classes compiled during the run
  wall_ms            the whole run

stdout gets a table sorted by median warm wall time. ``--out`` gets one
JSON record per query: its cold layers, its median warm layers, and the
wall time and compilations of every warm pass.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from spans import Tracer, catalyst_phases  # noqa: E402
from workloads import _median_layers, _pass_layers, execute  # noqa: E402

from presto_cached_examples_spark import get_session, load_table, registry  # noqa: E402
from presto_cached_examples_spark.sources.catalog import TABLES  # noqa: E402

#: Jobs and stages the status store keeps (``spark.ui.retainedJobs`` and
#: ``spark.ui.retainedStages``; 1000 each by default, with the UI off
#: too). The tracer reads every run's jobs back once the sweep is over,
#: so the store must hold a whole sweep: all queries at sf0.01, cold
#: plus three warm passes, run about 4,200 jobs and 7,600 stages.
RETAINED = 100_000


def sweep(spark, sf_dir: str, names: list[str], passes: int) -> dict[str, list[dict]]:
    """Run ``names`` in a cold pass and ``passes`` warm passes and return
    each query's layers per pass, cold first.

    Call it once per session: every tracer numbers its job groups from
    ``perfbench-1``, so a second sweep would count the first one's jobs
    as its own."""
    qs = registry.queries()
    tracer = Tracer(spark, enabled=True)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    runs: dict[str, list] = {name: [] for name in names}
    for _ in range(passes + 1):
        for name in names:
            before = compiled.getCount()
            # a one-query pass, laid out as perfbench lays out its passes
            with tracer.span("pass") as run, tracer.span("query", query=name):
                with tracer.span("build"):
                    df = qs[name](spark, sf_dir)
                with tracer.span("plan") as sp:
                    sp.attrs.update(catalyst_phases(df))
                with tracer.span("execute"):
                    execute(df)
            runs[name].append((run, compiled.getCount() - before))
    tracer.finish()
    cores = spark.sparkContext.defaultParallelism
    return {
        name: [
            {**_pass_layers(tracer, run, cores), "codegen.compiles": n, "wall_ms": run.ms}
            for run, n in per_pass
        ]
        for name, per_pass in runs.items()
    }


def record(name: str, layers: list[dict]) -> dict:
    """One query's JSON record from its per-pass layers, cold first."""
    warm = layers[1:]
    rounded = lambda d: {k: round(v, 3) for k, v in d.items()}  # noqa: E731
    return {
        "query": name,
        "cold": rounded(layers[0]),
        "warm": rounded(_median_layers(warm)),
        "warm_wall_ms": [round(p["wall_ms"], 3) for p in warm],
        "warm_compiles": [p["codegen.compiles"] for p in warm],
    }


def table(records: list[dict]) -> str:
    """Median warm layers per query, slowest first; build jobs and
    compilations as cold/warm."""
    cols = f"{'query':34s} {'wall_ms':>9s} {'build_ms':>9s} {'build_jobs':>10s} {'catalyst_ms':>11s} "
    cols += f"{'exec_ms':>9s} {'exec_jobs':>9s} {'stages':>6s} {'shuffle_kb':>10s} {'compiles':>9s}"
    lines = [cols]
    total = dict.fromkeys(("wall_ms", "registry.build_ms", "registry.build_jobs", "exec.ms"), 0.0)
    for r in sorted(records, key=lambda r: -r["warm"]["wall_ms"]):
        cold, warm = r["cold"], r["warm"]
        catalyst = sum(warm[f"catalyst.{p}_ms"] for p in ("analysis", "optimization", "planning"))
        shuffle = (warm["exec.shuffle_read_bytes"] + warm["exec.shuffle_write_bytes"]) / 1024
        lines.append(
            f"{r['query']:34s} {warm['wall_ms']:9.1f} {warm['registry.build_ms']:9.1f} "
            f"{cold['registry.build_jobs']:>4d}/{warm['registry.build_jobs']:<5g} {catalyst:11.1f} "
            f"{warm['exec.ms']:9.1f} {warm['exec.jobs']:9g} {warm['exec.stages']:6g} {shuffle:10.1f} "
            f"{cold['codegen.compiles']:>4d}/{warm['codegen.compiles']:<4g}"
        )
        for key in total:
            total[key] += warm[key]
    lines.append(
        f"{'TOTAL (warm medians)':34s} {total['wall_ms']:9.1f} {total['registry.build_ms']:9.1f} "
        f"{'':>5s}{total['registry.build_jobs']:<5g} {'':11s} {total['exec.ms']:9.1f}"
    )
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    import pyspark

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("queries", nargs="*", help="registered query names (default: all)")
    ap.add_argument(
        "--sf",
        default=os.path.join(ROOT, "perfbench", "fixtures", "sf0.01"),
        help="fixture directory (default: the headline workload's sf0.01 copy)",
    )
    ap.add_argument("--passes", type=int, default=3, help="warm passes after the cold one")
    ap.add_argument("--out", help="write the per-query JSON records to this file")
    args = ap.parse_args(argv)
    specs = registry.all_specs()
    names = args.queries or list(specs)
    unknown = sorted(set(names) - set(specs))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if args.passes < 1:
        ap.error("--passes must be at least 1")

    retained = str(RETAINED)
    spark = get_session(
        app_name="ledger",
        extra_conf={"spark.ui.retainedJobs": retained, "spark.ui.retainedStages": retained},
    )
    try:
        # read the table footers before the cold pass, as perfbench's set-up does
        for t in TABLES:
            load_table(spark, args.sf, t)
        layers = sweep(spark, args.sf, names, args.passes)
        cores = spark.sparkContext.defaultParallelism
    finally:
        spark.stop()
    records = [record(name, per_pass) for name, per_pass in layers.items()]
    print(table(records))
    if args.out:
        doc = {
            "sf": os.path.basename(os.path.normpath(args.sf)),
            "passes": args.passes,
            "cores": cores,
            "pyspark": pyspark.__version__,
            "records": records,
        }
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
