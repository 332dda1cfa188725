"""Generate PLANS.md: one physical-plan summary per registered query.

For every query in the registry this prints the operators that decide
scale behavior — exchanges (shuffles), join strategies, aggregate
phases, Python-eval nodes, and scan pushdown — so a reviewer can audit
shuffle counts and join choices without rerunning anything.

For the top-shuffle tier (static shuffle count >= AQE_REUSE_TIER) the
report additionally EXECUTES the query and reads the AQE-finalized
plan (`queryExecution.executedPlan` after the action), emitting a
`aqe reuse` column with the ReusedExchange node count — exchange-reuse
facts (e.g. pagerank's unrolled iterations sharing shuffles) are now
auditable per round instead of living in NOTES prose (VERDICT r11
next-round #3).

Usage: python tools/plan_report.py [--sf DIR] [-o PLANS.md]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from presto_cached_examples_spark import get_session, registry  # noqa: E402

JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
# static shuffle count at/above which the query is executed so the
# AQE-finalized plan's ReusedExchange count can be reported
AQE_REUSE_TIER = 8

PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "AggregateInPandas",
    "ArrowAggregatePython",
)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(name: str, plan: str) -> dict:
    # Count NODE HEADERS "(n) NodeName" only — formatted mode lists each
    # node once in the tree and once in the details, and plain
    # "Exchange" must not match "BroadcastExchange". Shuffle exchanges
    # are the expensive kind; broadcasts are bounded and reported apart.
    def nodes(pat: str) -> int:
        return len(re.findall(rf"\(\d+\) {pat}\b", plan))

    shuffles = nodes("Exchange")
    broadcasts = nodes("BroadcastExchange")
    joins = [n for n in JOIN_NODES for _ in range(nodes(n))]
    aggs = nodes("HashAggregate") + nodes("SortAggregate") + nodes("ObjectHashAggregate")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed_any = any(p.strip() for p in pushed)
    py = [n for n in PY_NODES if n in plan]
    topk = "TakeOrderedAndProject" in plan
    return {
        "name": name,
        "shuffles": shuffles,
        "broadcasts": broadcasts,
        "joins": ", ".join(sorted(set(joins))) or "-",
        "aggs": aggs,
        "pushdown": "yes" if pushed_any else ("n/a" if not pushed else "none"),
        "python": ", ".join(py) or "-",
        "topk": "yes" if topk else "-",
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("-o", "--out", default="PLANS.md")
    args = ap.parse_args()

    spark = get_session(app_name="pce-plan-report")
    specs = registry.all_specs()
    rows = []
    for name in sorted(specs):
        df = specs[name].fn(spark, args.sf)
        row = summarize(name, plan_of(df))
        if row["shuffles"] >= AQE_REUSE_TIER:
            # execute, then read the finalized adaptive plan: exchange
            # reuse only exists post-AQE, the static plan can't show it
            df.collect()
            final = df._jdf.queryExecution().executedPlan().toString()
            # Count line-anchored NODE occurrences, not raw substrings
            # (ADVICE r12): a bare str.count would also match the node
            # name inside subtree-reference header text and any future
            # node whose name merely contains "ReusedExchange".
            row["aqe_reuse"] = str(
                sum(
                    1
                    for ln in final.splitlines()
                    if ln.lstrip(" +-:*()0123456789").startswith("ReusedExchange")
                )
            )
        else:
            row["aqe_reuse"] = "-"
        rows.append(row)

    lines = [
        "# PLANS — physical-plan audit (auto-generated by tools/plan_report.py)",
        "",
        f"Scale dir: `{args.sf}`. `shuffles` counts hash/range repartition",
        "exchanges (the expensive kind); `broadcasts` counts bounded",
        "broadcast exchanges. `python` lists any Python-eval nodes — only",
        "the declared pandas-UDF surface may have them.",
        "",
        "`aqe reuse` = ReusedExchange nodes in the AQE-FINALIZED plan,",
        "measured by executing queries whose static shuffle count is >=",
        f"{AQE_REUSE_TIER} (exchange reuse only exists post-AQE); `-` for",
        "queries below that tier.",
        "",
        "| query | shuffles | broadcasts | joins | agg nodes | pushdown | top-k | python | aqe reuse |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['name']} | {r['shuffles']} | {r['broadcasts']} | {r['joins']} "
            f"| {r['aggs']} | {r['pushdown']} | {r['topk']} | {r['python']} | {r['aqe_reuse']} |"
        )
    out = "\n".join(lines) + "\n"
    with open(args.out, "w") as f:
        f.write(out)
    print(f"wrote {args.out}: {len(rows)} queries")


if __name__ == "__main__":
    main()
