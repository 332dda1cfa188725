"""Differential test: every SQL-checkable registered query must match its
DuckDB oracle at sf0.001 (the driver runs the same check at sf0.01).

For a SQL-only entry (``registry.register_sql``) the Spark side is the
oracle text itself, run by ``spark.sql`` over the temp views that
``catalog.register_all`` binds: the test then compares two engines on
one text. Every other query compares its DataFrame builder with the
oracle.

This single parametrized test is the local mirror of the t2 gate.
"""

from __future__ import annotations

import pytest

from presto_cached_examples_spark import registry
from tests.conftest import SF_TINY
from tests.util import assert_frames_match, canon_rows

SPECS = registry.all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    df = spec.fn(spark, SF_TINY)
    if spec.oracle is None:
        # rows-only contract: must run and return a well-formed result
        assert df.columns, f"{name}: no columns"
        assert df.count() >= 0
        return
    assert_frames_match(df, duck.sql(spec.oracle), context=name)


def test_decimal_against_double_fails(spark, duck):
    """A Spark DECIMAL column that DuckDB returns as DOUBLE fails the
    match even when every value hashes alike: ``0.5`` hashes the same
    on both sides, ``0.50`` would not."""
    sdf = spark.sql("SELECT CAST(0.5 AS DECIMAL(2,1)) AS x")
    rel = duck.sql("SELECT 0.5::DOUBLE AS x")
    assert canon_rows(sdf.toPandas()) == canon_rows(rel.df())
    with pytest.raises(AssertionError, match="DECIMAL on one side only"):
        assert_frames_match(sdf, rel, context="decimal")


def test_driver_window_covers_unverified_queries():
    """Driver-cap guard (VERDICT r1 #8).

    The driver's correctness harness checks only the first
    ``registry.DRIVER_WINDOW`` queries in ``queries()`` order.  Every
    registered query must either already have a fully-green row in a past
    CORRECTNESS_r*.json or sit inside the current front window — otherwise
    it would never receive a driver correctness row.
    """
    import json
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    green: set[str] = set()
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(path.read_text()).items():
            if row.get("err") is None and row.get("hash_match") is not False:
                green.add(name)
    order = list(registry.all_specs())
    window = set(order[: registry.DRIVER_WINDOW])
    queued = set(registry._VERIFY_NEXT)
    never_checked = set(order) - green
    stranded = sorted(never_checked - window - queued)
    assert not stranded, (
        f"queries with no driver CORRECTNESS row outside the first "
        f"{registry.DRIVER_WINDOW}: {stranded} — add them to "
        f"registry._VERIFY_FRONT or queue them in registry._VERIFY_NEXT"
    )
    # the queue is only for overflow: it must never hide a query that
    # would fit in the window, and queued names must exist
    assert queued <= set(order), f"_VERIFY_NEXT names not registered: {queued - set(order)}"
    assert len(registry._VERIFY_FRONT) >= registry.DRIVER_WINDOW or not queued, (
        "_VERIFY_NEXT used while the front window still has free slots"
    )
