"""Local replica of the driver's correctness gate.

Runs every registered query at a given sf_dir on Spark AND its DuckDB
oracle on the same parquet files, then compares: row count, column
names, an order-insensitive value hash (columns sorted by name, rows
sorted by stringified values) and which columns are DECIMAL. Queries
without an oracle get a rows-only run check.

Usage:
    python tools/check_oracles.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def _canon_cell(v) -> str:
    # containers first: `v != v` on an ndarray returns an array (ambiguous
    # truth value), so the NaN test must only ever see scalars
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):  # NaN/None
        return "<null>"
    if isinstance(v, float):
        # Raw repr — NO -0.0 normalization, NO re-rounding. Round 4 proved
        # the driver's hasher distinguishes -0.0 from 0.0 and hashes full
        # precision; a forgiving local gate let two -0.0 bugs ship blind
        # (VERDICT r4 "What's wrong" #4). The local gate must be at least
        # as strict as the grading gate: engines are responsible for
        # agreeing bit-for-bit after their own in-query ROUND discipline.
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return "[" + ",".join(_canon_cell(x) for x in v.tolist()) + "]"
        if isinstance(v, np.generic):
            return _canon_cell(v.item())
    except ImportError:
        pass
    return str(v)


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        ",".join(_canon_cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def decimal_mismatches(spark_df, duck_rel) -> list[str]:
    """Columns that are DECIMAL on one side only. A value hash cannot
    see them until some value has a trailing zero: Spark's ``0.5000``
    hashes unlike DuckDB's ``0.5``, but ``0.5123`` hashes alike."""
    from pyspark.sql.types import DecimalType

    spark_dec = {f.name for f in spark_df.schema.fields if isinstance(f.dataType, DecimalType)}
    duck_dec = {c for c, t in zip(duck_rel.columns, duck_rel.types) if t.id == "decimal"}
    return sorted(spark_dec ^ duck_dec)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from presto_cached_examples_spark import get_session, registry
    from presto_cached_examples_spark.sources.catalog import TABLES, table_path

    spark = get_session()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(args.sf, t)}'")

    specs = registry.all_specs()
    names = args.names or sorted(specs)
    n_pass = n_fail = 0
    for name in names:
        spec = specs[name]
        t0 = time.time()
        try:
            sdf_spark = spec.fn(spark, args.sf)
            sdf = sdf_spark.toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ok   {name} (rows-only): {len(sdf)} rows  [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            orel = con.sql(spec.oracle)
            odf = orel.df()
        except Exception:
            print(f"FAIL {name}: duckdb raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        sn, scols, shash = canon(sdf)
        on, ocols, ohash = canon(odf)
        decimal_diff = decimal_mismatches(sdf_spark, orel)
        dt = time.time() - t0
        if (sn, scols, shash) == (on, ocols, ohash) and not decimal_diff:
            print(f"PASS {name}: {sn} rows hash={shash}  [{dt:.1f}s]")
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: spark({sn} rows, {scols}, {shash}) vs duck({on} rows, {ocols}, {ohash})  [{dt:.1f}s]")
            if decimal_diff:
                print(f"  DECIMAL on one side only: {decimal_diff}")
            if scols == ocols and sn == on:
                s_rows = sorted(
                    ",".join(_canon_cell(v) for v in r)
                    for r in sdf[sorted(sdf.columns)].itertuples(index=False, name=None)
                )
                o_rows = sorted(
                    ",".join(_canon_cell(v) for v in r)
                    for r in odf[sorted(odf.columns)].itertuples(index=False, name=None)
                )
                diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
                for a, b in diffs:
                    print(f"  spark: {a}\n  duck : {b}")
            print(f"  spark dtypes: {dict(sdf.dtypes.astype(str))}")
            print(f"  duck  dtypes: {dict(odf.dtypes.astype(str))}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
