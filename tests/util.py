"""Test comparison helpers — same canonicalization as tools/check_oracles.py."""

from __future__ import annotations

import uuid

import pandas as pd


def _canon_cell(v) -> str:
    # containers first: `v != v` on an ndarray returns an array (ambiguous
    # truth value), so the NaN test must only ever see scalars
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return "<null>"
    if isinstance(v, float):
        # driver-strength: raw repr, signed zero and full precision intact
        # (see tools/check_oracles.py — the round-4 -0.0 lesson)
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return "[" + ",".join(_canon_cell(x) for x in v.tolist()) + "]"
        if isinstance(v, np.generic):
            return _canon_cell(v.item())
    except ImportError:
        pass
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    df = df[cols]
    return sorted(
        ",".join(_canon_cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )


def assert_frames_match(spark_df, duck_rel, context: str = "") -> None:
    """Order-insensitive equality of a Spark DataFrame and a DuckDB relation."""
    sdf = spark_df.toPandas()
    odf = duck_rel.df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{context}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    )
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
