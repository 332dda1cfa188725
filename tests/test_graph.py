"""Connected-components tests: transitivity, isolation, convergence —
exercised on BOTH execution paths (driver union-find for small edge
sets, distributed label propagation for large ones) by pinning the
threshold."""

from __future__ import annotations

import pytest

from presto_cached_examples_spark.operators import graph
from presto_cached_examples_spark.operators.graph import connected_components
from presto_cached_examples_spark.plans import artifacts
from presto_cached_examples_spark.registry import queries
from tests.conftest import SF_TINY
from tests.test_plans import build, plan_of
from tests.util import jobs_during

BOTH_PATHS = pytest.mark.parametrize("threshold", [100_000, 0], ids=["driver", "distributed"])


def _cc(spark, edges, monkeypatch, threshold, **kw):
    monkeypatch.setattr(graph, "DRIVER_EDGE_THRESHOLD", threshold)
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.component for r in connected_components(df, **kw).collect()}


@BOTH_PATHS
def test_chain_collapses_transitively(spark, monkeypatch, threshold):
    # A-B, B-C, C-D: one component rooted at the minimum id
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)], monkeypatch, threshold)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


@BOTH_PATHS
def test_disjoint_components_stay_apart(spark, monkeypatch, threshold):
    got = _cc(spark, [(5, 6), (10, 11), (11, 12)], monkeypatch, threshold)
    assert got == {5: 5, 6: 5, 10: 10, 11: 10, 12: 10}


@BOTH_PATHS
def test_direction_is_ignored(spark, monkeypatch, threshold):
    # edges given "backwards" must not matter (undirected semantics)
    got = _cc(spark, [(9, 3), (7, 9)], monkeypatch, threshold)
    assert got == {3: 3, 9: 3, 7: 3}


@BOTH_PATHS
def test_degree_counts_each_edge_end(spark, monkeypatch, threshold):
    monkeypatch.setattr(graph, "DRIVER_EDGE_THRESHOLD", threshold)
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 3)], "src long, dst long")
    got = {r.node: r.degree for r in connected_components(df).collect()}
    assert got == {1: 2, 2: 2, 3: 3, 4: 1}


def test_max_iter_raises_rather_than_lying(spark, monkeypatch):
    # distributed path: a long chain needs ~len rounds; forcing 1 round
    # must raise, not return a half-converged labeling
    chain = [(i, i + 1) for i in range(8)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, chain, monkeypatch, threshold=0, max_iter=1)


def test_dedup_near_clusters_are_transitive(spark):
    """The LSH pipeline's cluster ids must be closed under transitivity:
    two docs sharing a cluster member share the cluster."""
    rows = queries()["q_dedup_near"](spark, SF_TINY).collect()
    cluster = {r.doc_id: r.cluster_id for r in rows}
    # every cluster id is itself a member of that cluster (root exists)
    for doc, cid in cluster.items():
        assert cluster[cid] == cid, f"cluster root {cid} not canonical (via {doc})"


def test_driver_path_keeps_callers_arrow_setting(spark, monkeypatch):
    """The driver union-find ships its result as an Arrow LocalTableScan
    without turning Arrow on in the caller's session, and counts each
    node's degree."""
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    bare = spark.newSession()
    bare.conf.set(arrow, "false")
    monkeypatch.setattr(graph, "DRIVER_EDGE_THRESHOLD", 100_000)
    edges = bare.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    got = connected_components(edges)
    assert bare.conf.get(arrow) == "false"
    assert "LocalTableScan" in plan_of(got)
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 1, 1), (2, 1, 2), (3, 1, 1), (7, 7, 1), (8, 7, 1)
    ]



def _dedup_near(spark):
    return queries()["q_dedup_near"](spark, SF_TINY)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_near_dup_clusters_match_on_both_paths(spark, monkeypatch):
    """The near_dup_clusters artifact is the same relation whether the
    verified edges go through the driver union-find or the distributed
    label propagation."""
    artifacts.forget(spark, SF_TINY, "near_dup_clusters")
    driver = _rows(_dedup_near(spark))
    assert any(n > 0 for _, _, n in driver), "fixture has no near-dup pair"
    monkeypatch.setattr(graph, "DRIVER_EDGE_THRESHOLD", 0)
    artifacts.forget(spark, SF_TINY, "near_dup_clusters")
    # the rebuild must run the distributed path, not reuse a cached plan
    paths = []
    for fn, path in ((graph.connected_components, "cc"), (graph._driver_union_find, "driver")):
        monkeypatch.setattr(graph, fn.__name__, _spy(fn, path, paths))
    try:
        assert _rows(_dedup_near(spark)) == driver
        assert paths == ["cc"]
    finally:
        artifacts.forget(spark, SF_TINY, "near_dup_clusters")


def _spy(fn, label, calls):
    def spy(*args, **kwargs):
        calls.append(label)
        return fn(*args, **kwargs)

    return spy


def test_warm_dedup_near_matches_cold(spark):
    """A memo-hit build runs no job and returns the cold build's rows."""
    artifacts.forget(spark, SF_TINY, "near_dup_clusters")
    cold = _rows(_dedup_near(spark))
    warm = []
    # the builder itself, not a cached plan, must read the memo
    assert jobs_during(spark, lambda: warm.append(build(spark, "q_dedup_near"))) == []
    assert _rows(warm[0]) == cold


def test_dedup_near_survives_lost_blocks(spark):
    """The clusters memo holds driver data only, so q_dedup_near still
    answers after every persisted RDD's blocks are dropped."""
    artifacts.forget(spark, SF_TINY, "near_dup_clusters")
    cold = _rows(_dedup_near(spark))
    warm = _dedup_near(spark)
    sc = spark.sparkContext
    master = sc._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    try:
        for rdd_id in list(sc._jsc.getPersistentRDDs().keys()):
            master.removeRdd(int(rdd_id), True)
        assert _rows(warm) == cold
        assert _rows(_dedup_near(spark)) == cold
    finally:
        # the session's other memo values lost their blocks too
        artifacts.release(spark)
