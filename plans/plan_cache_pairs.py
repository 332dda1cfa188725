"""Measurement harness for the registry's plan cache.

    python plans/plan_cache_pairs.py pairs PARENT CHANGE WORKLOAD FIRST_SEED N OUT.jsonl [--trace 1]
    python plans/plan_cache_pairs.py report OUT.jsonl...
    python plans/plan_cache_pairs.py parity TREE SF_DIR OUT.json
    python plans/plan_cache_pairs.py lost-blocks TREE SF_DIR OUT.json

``pairs`` runs ``perfbench/run.py --workload WORKLOAD --seed S
--seconds 10`` from the checkouts PARENT and CHANGE, one after the other,
for N seeds from FIRST_SEED. Odd pairs run the parent first, even pairs
the change first. Each run appends one JSON line: pair, position, side,
seed, the 1-minute load average just before the run, and perfbench's
result line.

``report`` prints, per workload, every run and a table of each metric:
each side's median and quartiles (``statistics.quantiles(n=4)``, as
perfbench's spread check uses), the change, the parent's interquartile
range and how many pairs the change won. Traced runs print their
per-layer metrics side by side instead.

``parity`` imports the engine from TREE and, for every registered query
at SF_DIR, records the ``tools/check_oracles.canon`` hash of four
builds in one session: the raw builder (``QuerySpec.fn``), a plan-cache
miss (``queries()`` after ``artifacts.forget``) and two hits.

``lost-blocks`` imports the engine from TREE, builds and runs every
query at SF_DIR (the warm-up), drops the blocks of every persisted RDD
through the block-manager master (``removeRdd(id, true)``), then builds
and runs every query again, and records which queries raised.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import traceback

END_TO_END = ("setup_s", "cold_pass_s", "pass_s", "query_p50_ms")


def pairs(parent: str, change: str, workload: str, first_seed: int, n: int, out: str, trace: int) -> None:
    for i in range(n):
        seed = first_seed + i
        sides = [("parent", parent), ("change", change)]
        if i % 2:
            sides.reverse()
        for pos, (side, tree) in enumerate(sides, 1):
            with open("/proc/loadavg") as f:
                load1 = float(f.read().split()[0])
            cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
                   "--seed", str(seed), "--seconds", "10", "--trace", str(trace)]
            run = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
            lines = run.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if run.returncode == 0 and lines else {"error": run.stderr[-2000:]}
            rec = {"workload": workload, "pair": i + 1, "pos": pos, "side": side, "seed": seed,
                   "trace": trace, "load1": load1, "result": result}
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(workload, i + 1, side, result.get("metrics", result), flush=True)


def _value(result: dict, metric: str) -> float:
    return result["metrics"][metric]["value"]


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def report(paths: list[str]) -> None:
    recs = [json.loads(line) for p in paths for line in open(p) if line.strip()]
    for workload in dict.fromkeys(r["workload"] for r in recs):
        for trace in (0, 1):
            runs = [r for r in recs if r["workload"] == workload and r["trace"] == trace]
            if runs:
                print(f"\n## {workload}{' (traced)' if trace else ''}\n")
                (_report_layers if trace else _report_end_to_end)(runs)


def _report_end_to_end(runs: list[dict]) -> None:
    print("| pair | pos | side | seed | load1 | correct | failed | " + " | ".join(END_TO_END) + " |")
    print("|" + "---|" * (7 + len(END_TO_END)))
    for r in runs:
        res = r["result"]
        vals = " | ".join(f"{_value(res, m):.3f}" for m in END_TO_END)
        print(f"| {r['pair']} | {r['pos']} | {r['side']} | {r['seed']} | {r['load1']} | "
              f"{res['correct']} | {res['failed']} | {vals} |")
    print("\n| metric | parent q1 / median / q3 | change q1 / median / q3 | change | "
          "parent IQR | change wins/pairs |")
    print("|---|---|---|---|---|---|")
    by = {(r["pair"], r["side"]): r["result"] for r in runs}
    npairs = sorted({r["pair"] for r in runs})
    for m in END_TO_END:
        par = [_value(by[(p, "parent")], m) for p in npairs]
        chg = [_value(by[(p, "change")], m) for p in npairs]
        pq, cq = _quartiles(par), _quartiles(chg)
        wins = sum(c < p for p, c in zip(par, chg))
        print(f"| {m} | {pq[0]:.3f} / {pq[1]:.3f} / {pq[2]:.3f} | {cq[0]:.3f} / {cq[1]:.3f} / "
              f"{cq[2]:.3f} | {100 * (cq[1] / pq[1] - 1):+.1f}% | {pq[2] - pq[0]:.3f} | "
              f"{wins}/{len(npairs)} |")


def _report_layers(runs: list[dict]) -> None:
    sides = [r["side"] for r in runs]
    print("| layer | " + " | ".join(sides) + " |")
    print("|" + "---|" * (1 + len(runs)))
    for key in runs[0]["result"]["metrics"]:
        vals = " | ".join(f"{_value(r['result'], key):,.1f}" for r in runs)
        print(f"| {key} | {vals} |")


def _session(tree: str):
    sys.path.insert(0, os.path.abspath(tree))
    from presto_cached_examples_spark import get_session

    return get_session(cpus="4", shuffle_partitions=4)


def parity(tree: str, sf_dir: str, out: str) -> None:
    spark = _session(tree)
    from presto_cached_examples_spark import registry
    from presto_cached_examples_spark.plans import artifacts
    from tools.check_oracles import canon

    specs, qs = registry.all_specs(), registry.queries()
    got, differ = {}, []
    for name in specs:
        hashes = [canon(specs[name].fn(spark, sf_dir).toPandas())]
        artifacts.forget(spark, sf_dir, (artifacts.PLAN, name))
        hashes += [canon(qs[name](spark, sf_dir).toPandas()) for _ in range(3)]
        got[name] = [list(h) for h in hashes]
        if any(h != hashes[0] for h in hashes):
            differ.append(name)
        print(name, "same" if name not in differ else "DIFFER", hashes[0][2], flush=True)
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "queries": len(got), "differ": differ, "hashes": got}, f, indent=1)
    print(f"{sf_dir}: {len(got) - len(differ)}/{len(got)} raw == miss == hit == hit")


def lost_blocks(tree: str, sf_dir: str, out: str) -> None:
    spark = _session(tree)
    from presto_cached_examples_spark import registry

    qs = registry.queries()

    def sweep() -> list[str]:
        failed = []
        for name, build in qs.items():
            try:
                build(spark, sf_dir)._jdf.queryExecution().toRdd().count()
            except Exception:
                failed.append(name)
                print(f"{name} raised:\n{traceback.format_exc(limit=1)[-400:]}", flush=True)
        return failed

    warm_failed = sweep()
    sc = spark.sparkContext
    master = sc._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    rdds = [int(i) for i in sc._jsc.getPersistentRDDs().keys()]
    for rdd_id in rdds:
        master.removeRdd(rdd_id, True)
    failed = sweep()
    rec = {"tree": tree, "sf_dir": sf_dir, "warm_failed": warm_failed,
           "persisted_rdds_removed": len(rdds), "failed_after_removal": failed}
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec))


if __name__ == "__main__":
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "pairs":
        trace = int(args[args.index("--trace") + 1]) if "--trace" in args else 0
        parent, change, workload, first, n, out = args[:6]
        pairs(parent, change, workload, int(first), int(n), out, trace)
    elif cmd == "report":
        report(args)
    elif cmd == "parity":
        parity(*args)
    elif cmd == "lost-blocks":
        lost_blocks(*args)
    else:
        raise SystemExit(__doc__)
