"""The registry's plan cache: ``queries()[name]`` runs the builder once
per session and fixture directory, and a repeated call returns a new
DataFrame over the cached analyzed plan (registry module docstring)."""

from __future__ import annotations

import dataclasses

import pytest

from bench import HEADLINE
from presto_cached_examples_spark import registry
from presto_cached_examples_spark.plans import artifacts
from tests.conftest import SF_SMALL, SF_TINY
from tests.util import canon_rows

SPECS = registry.all_specs()
# Builders whose plan holds a checkpoint: their builder runs on every call.
RDD_LEAF = {
    "q_ntile_spend", "q_rfm_segments", "q_basket_rules", "q_events_autocorr",
    "q_graph_pagerank", "q_graph_triangles", "q_graph_degree_stats", "q_graph_khop",
    "q_text_pmi", "q_text_bigram_lm", "q_text_kn_bigram", "q_dedup_embed_sweep",
    "q_source_jaccard", "q_minhash_calibration", "q_quality_ppl_filter",
    "q_curation_pipeline", "q_quality_ensemble",
}


def _qe(df):
    return df._jdf.queryExecution()


@pytest.mark.parametrize("name", list(SPECS))
def test_repeated_build_is_a_fresh_frame_over_the_same_plan(spark, monkeypatch, name):
    """The first call returns the builder's own DataFrame; the second
    gives another QueryExecution over a plan that analyzes to the same
    result. (Two runs of a builder need not: a CTE or subquery gets new
    ids on each analysis, so the hit is compared with the miss.)"""
    built = _builds(spark, monkeypatch, name)
    build = registry.queries()[name]
    first = build(spark, SF_TINY)
    assert len(built) == 1 and built[0] is first
    second = build(spark, SF_TINY)
    assert not _qe(first).equals(_qe(second))
    if name in RDD_LEAF:
        assert len(built) == 2  # a fresh checkpoint per build
    else:
        assert len(built) == 1
        assert second._jdf.sameSemantics(first._jdf)


@pytest.mark.parametrize("name", HEADLINE)
def test_headline_hit_returns_the_builders_rows(spark, name):
    build = registry.queries()[name]
    build(spark, SF_TINY)
    raw = canon_rows(SPECS[name].fn(spark, SF_TINY).toPandas())
    assert canon_rows(build(spark, SF_TINY).toPandas()) == raw


def _builds(spark, monkeypatch, name: str) -> list:
    """The DataFrames that ``name``'s builder returns behind
    ``queries()``, from a cold plan cache."""
    calls = []
    spec = SPECS[name]

    def fn(spark, sf_dir):
        calls.append(spec.fn(spark, sf_dir))
        return calls[-1]

    monkeypatch.setitem(registry._REGISTRY, name, dataclasses.replace(spec, fn=fn))
    artifacts.forget(spark, SF_TINY, (artifacts.PLAN, name))
    return calls


def test_checkpoint_plan_runs_its_builder_on_every_call(spark, monkeypatch):
    calls = _builds(spark, monkeypatch, "q_ntile_spend")
    build = registry.queries()["q_ntile_spend"]
    for _ in range(3):
        build(spark, SF_TINY)
    assert len(calls) == 3


def test_forget_and_release_drop_cached_plans(spark, monkeypatch):
    calls = _builds(spark, monkeypatch, "q_agg_pricing")
    build = registry.queries()["q_agg_pricing"]
    build(spark, SF_TINY)
    build(spark, SF_TINY)
    assert len(calls) == 1
    artifacts.forget(spark, SF_SMALL, "near_dup_clusters")  # another sf_dir
    build(spark, SF_TINY)
    assert len(calls) == 1
    artifacts.forget(spark, SF_TINY, "near_dup_clusters")
    build(spark, SF_TINY)
    assert len(calls) == 2
    artifacts.release(spark)
    build(spark, SF_TINY)
    build(spark, SF_TINY)
    assert len(calls) == 3


def test_other_session_runs_the_builder(spark, monkeypatch):
    """A plan is analyzed against one session's conf and temp views, so a
    session sharing the SparkContext does not reuse it."""
    calls = _builds(spark, monkeypatch, "q_window_lag")
    build = registry.queries()["q_window_lag"]
    build(spark, SF_TINY)
    other = spark.newSession()
    build(other, SF_TINY)
    build(spark, SF_TINY)
    assert len(calls) == 2
