"""Test comparison helpers, on the canonicalization of tools/check_oracles.py."""

from __future__ import annotations

import uuid

import pandas as pd

from tools.check_oracles import _canon_cell, decimal_mismatches


def canon_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    df = df[cols]
    return sorted(
        ",".join(_canon_cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )


def assert_frames_match(spark_df, duck_rel, context: str = "") -> None:
    """Order-insensitive equality of a Spark DataFrame and a DuckDB
    relation, with the same columns DECIMAL on both sides."""
    sdf = spark_df.toPandas()
    odf = duck_rel.df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{context}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    )
    decimal_diff = decimal_mismatches(spark_df, duck_rel)
    assert not decimal_diff, f"{context}: DECIMAL on one side only: {decimal_diff}"
    s_rows, o_rows = canon_rows(sdf), canon_rows(odf)
    assert len(s_rows) == len(o_rows), f"{context}: {len(s_rows)} rows vs {len(o_rows)}"
    mismatches = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
    assert not mismatches, f"{context}: first mismatch {mismatches[0]}"


def jobs_during(spark, fn) -> list[int]:
    """Ids of the Spark jobs that ``fn()`` runs, read from a job group
    of its own."""
    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs_during probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))
