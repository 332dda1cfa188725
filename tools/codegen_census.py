"""Cold-plan codegen census (VERDICT r11 next-round #2).

For every registered query, measure time-to-first-result on a session
whose TABLE CACHE is pre-warmed (so parquet scan setup is excluded and
the first run is dominated by analysis + optimization + janino codegen
+ execution), then a second, fully-warm run. The cold-minus-warm delta
approximates the per-plan one-time cost — the quantity an unrolled
expression forest inflates (the r11 q_dedup_near finding: 64 unrolled
minhash trees cost seconds of janino compile per cold plan; the folded
nested-HOF form compiles one small loop body).

Queries that do EAGER work at build time (Lloyd iterations, PQ
codebook training, approxQuantile splits) show large deltas that are
NOT janino — the static census in NOTES.md disambiguates: a wide delta
only indicts codegen when the query also carries a wide unrolled
Column forest (grep `for i in range` over the package).

Blind spot: the warm run follows its own cold run back to back, while
that query's generated classes are still in Spark's codegen cache, so
the census cannot see eviction ACROSS queries. A cache smaller than the
working set of a whole pass (Spark's 100-entry default against ~280
classes per headline pass) recompiles every plan on the next pass and
still reads as warm here. To see it, count
CodegenMetrics.METRIC_COMPILATION_TIME over a second full pass.

Usage:
    python tools/codegen_census.py [--sf /root/testdata/sf0.01] [--top 25] [names...]

Prints one line per query (cold, warm, delta) and a top-N summary by
delta. One-off diagnostic; not part of the round-close gates.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from presto_cached_examples_spark import get_session
    from presto_cached_examples_spark import registry
    from presto_cached_examples_spark.sources.catalog import TABLES, load_table

    spark = get_session(cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # pre-warm the table cache so run 1 isn't charged for parquet setup
    for t in TABLES:
        load_table(spark, args.sf, t).count()

    specs = registry.all_specs()
    names = args.names or list(specs)
    rows = []
    for name in names:
        if name not in specs:  # bad CLI name: report it, keep censusing
            print(f"ERR  {name}: unknown query name")
            continue
        fn = specs[name].fn
        try:
            t0 = time.time()
            fn(spark, args.sf).collect()
            cold = time.time() - t0
            t0 = time.time()
            fn(spark, args.sf).collect()
            warm = time.time() - t0
        except Exception as e:  # diagnostic tool: report, don't die
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            continue
        rows.append((name, cold, warm, cold - warm))
        print(f"     {name}: cold {cold:.2f}s warm {warm:.2f}s delta {cold - warm:+.2f}s")

    rows.sort(key=lambda r: -r[3])
    print(f"\n== top {args.top} by cold-minus-warm delta ==")
    for name, cold, warm, delta in rows[: args.top]:
        print(f"{delta:+7.2f}s  {name}  (cold {cold:.2f} warm {warm:.2f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
