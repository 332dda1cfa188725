"""Parity and build-time harness for the 13 embedding queries of one tree.

    python plans/vector_kernel_parity.py TREE OUT.json
    python plans/vector_kernel_parity.py --diff A.json B.json

Imports the engine from the checkout TREE (its `__spark_entry__`) in a
fresh session and records in OUT.json:

- the names of `queries()` in order, and the sha256 of the
  `oracle_sql()` JSON;
- for each of the 13 queries at sf0.001, sf0.01 and sf0.1: its
  optimized and physical plan text, taken before the first execution
  and normalized: expression ids `#N` and `plan_id=N` stripped, and
  lambda variables renamed by order of first appearance on each plan
  line, so `x_59` and `a_91` both read `λ1` when they come first. A
  lambda variable is bound inside one expression, which prints on one
  operator's line, so this renaming keeps every binding; it forgets
  only which variables of two operators share an id (one Column object
  used in both); and the `tools/check_oracles.canon` hash of its
  collected result;
- the warm build time at sf0.01 in ms: the median of 5 builds of the
  DataFrame (no action), after the cold build and the collect above.

`--diff` prints every plan, hash or contract difference between two
such files, then the build-ms table (A → B).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time

QUERIES = (
    "q_sim_topk",
    "q_sim_topk_lsh",
    "q_sim_topk_kmeans",
    "q_sim_pq",
    "q_sim_adc",
    "q_sim_topk_ivf",
    "q_ann_pipeline",
    "q_ann_recall_sweep",
    "q_embed_power_topvec",
    "q_cluster_purity",
    "q_dedup_embed",
    "q_dedup_embed_sweep",
    "q_sample_kcenter",
)
SFS = ("sf0.001", "sf0.01", "sf0.1")  # fixture dirs beside __spark_entry__.SMOKE_SF_DIR
TIMED_SF = "sf0.01"
REPS = 5

_LAMBDA = re.compile(r"lambda (\w+_\d+)")


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    lines = []
    for line in plan.splitlines():
        names: dict[str, str] = {}
        for m in _LAMBDA.finditer(line):
            names.setdefault(m.group(1), f"λ{len(names) + 1}")
        lines.append(_LAMBDA.sub(lambda m: "lambda " + names[m.group(1)], line))
    return "\n".join(lines)


def run(tree: str, out: str) -> None:
    sys.path.insert(0, tree)
    import __spark_entry__ as E
    from presto_cached_examples_spark import get_session
    from tools.check_oracles import canon

    root = os.path.dirname(E.SMOKE_SF_DIR)
    spark = get_session()
    qs = E.queries()
    res: dict = {
        "queries": list(qs),
        "oracle_sql_sha256": hashlib.sha256(json.dumps(E.oracle_sql()).encode()).hexdigest(),
        "plans": {},
        "hashes": {},
        "build_ms": {},
    }
    for sf in SFS:
        for name in QUERIES:
            df = qs[name](spark, os.path.join(root, sf))
            qe = df._jdf.queryExecution()
            res["plans"][f"{name}@{sf}"] = {
                "optimized": normalize(qe.optimizedPlan().toString()),
                "physical": normalize(qe.executedPlan().toString()),
            }
            n, _cols, h = canon(df.toPandas())
            res["hashes"][f"{name}@{sf}"] = f"{n}:{h}"
            print(name, sf, n, h, flush=True)
    for name in QUERIES:
        times = []
        for _ in range(REPS):
            t = time.perf_counter()
            qs[name](spark, os.path.join(root, TIMED_SF))
            times.append((time.perf_counter() - t) * 1000)
        res["build_ms"][name] = round(statistics.median(times), 1)
        print(name, "build_ms", res["build_ms"][name], flush=True)
    with open(out, "w") as f:
        json.dump(res, f, indent=1, ensure_ascii=False)
    spark.stop()


def diff(a_path: str, b_path: str) -> int:
    import difflib

    a, b = (json.load(open(p)) for p in (a_path, b_path))
    bad = 0
    for key in ("queries", "oracle_sql_sha256"):
        same = a[key] == b[key]
        bad += not same
        print(f"{key}: {'identical' if same else 'DIFFERS'}")
    for key in a["hashes"]:
        if a["hashes"][key] != b["hashes"].get(key):
            bad += 1
            print(f"hash {key}: {a['hashes'][key]} vs {b['hashes'].get(key)}")
        for kind in ("optimized", "physical"):
            pa, pb = a["plans"][key][kind], b["plans"][key][kind]
            if pa != pb:
                bad += 1
                print(f"{kind} plan {key} differs:")
                for line in difflib.unified_diff(pa.splitlines(), pb.splitlines(), lineterm="", n=0):
                    print("   ", line[:200])
    print("\n| query @ sf | result rows:hash | plan sha256 (optimized, physical) |\n|---|---|---|")
    for key in a["hashes"]:
        digest = [hashlib.sha256(b["plans"][key][k].encode()).hexdigest()[:12] for k in ("optimized", "physical")]
        print(f"| `{key}` | {b['hashes'][key]} | {', '.join(digest)} |")
    n = len(a["hashes"])
    print(f"{n - sum(a['hashes'][k] != b['hashes'].get(k) for k in a['hashes'])}/{n} hashes equal; "
          f"{bad} differences in all")
    print("\n| query | build ms A | build ms B |\n|---|---|---|")
    for q in QUERIES:
        print(f"| `{q}` | {a['build_ms'][q]} | {b['build_ms'][q]} |")
    sa, sb = (sum(x["build_ms"].values()) for x in (a, b))
    print(f"| sum | {sa:.1f} | {sb:.1f} |")
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    run(sys.argv[1], sys.argv[2])
