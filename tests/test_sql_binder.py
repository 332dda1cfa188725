"""The SQL binder (sources/catalog.register_all): a SQL-only query reads
its tables through session temp views, so each build must see the views
of its own sf_dir, and a warm build at an unchanged sf_dir must register
no view."""

from __future__ import annotations

import duckdb

from presto_cached_examples_spark.plans import artifacts
from presto_cached_examples_spark.registry import all_specs
from presto_cached_examples_spark.sources.catalog import TABLES, register_all, table_path
from tests.conftest import SF_SMALL, SF_TINY
from tests.util import assert_frames_match


def test_sql_only_query_follows_its_sf_dir(spark):
    spec = all_specs()["q_agg_pricing"]
    ducks = {sf: duckdb.connect() for sf in (SF_TINY, SF_SMALL)}
    for sf, con in ducks.items():
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf, t)}'")

    def sweep(when: str) -> None:
        for sf in (SF_TINY, SF_SMALL, SF_TINY):
            expected = ducks[sf].sql(spec.oracle)
            assert_frames_match(spec.fn(spark, sf), expected, context=f"{when} @ {sf}")

    try:
        sweep("bound in turn")
        artifacts.release(spark)
        sweep("after release")
        register_all(spark, SF_SMALL)  # the sweep's last build was at SF_TINY
        sweep("after binding the other scale factor")
    finally:
        for con in ducks.values():
            con.close()


def test_warm_sql_build_registers_no_view(spark, monkeypatch):
    build = all_specs()["q_agg_pricing"].fn
    df_class = type(build(spark, SF_TINY))  # the session's concrete DataFrame class
    registered = []
    real = df_class.createOrReplaceTempView

    def counted(df, name):
        registered.append(name)
        real(df, name)

    monkeypatch.setattr(df_class, "createOrReplaceTempView", counted)
    build(spark, SF_TINY)
    assert registered == []
    build(spark, SF_SMALL)
    assert sorted(registered) == sorted(TABLES)
