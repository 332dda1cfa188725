"""Value-level oracle for the similarity operators. These are rows-only
in the driver harness (float accumulation order breaks cross-engine
hashes), so the exact check lives here instead: a NumPy brute-force
reference computed at full double precision.

Rounding note: cosines are compared after round(4), the same rounding
the operator itself emits, and ranks are compared on the (probe, k) →
vec mapping with the operator's own (cosine DESC, vec_id) tie-break."""

from __future__ import annotations

import math
import re
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import queries
from presto_cached_examples_spark.sources.catalog import load_table
from tests.conftest import SF_TINY

N_PROBES, TOP_K = 10, 5


def _numpy_topk(spark):
    rows = load_table(spark, SF_TINY, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
    out = {}
    for p in range(N_PROBES):
        pi = int(np.where(ids == p)[0][0])
        cos = m_n @ m_n[pi]
        cand = [
            (round(float(c), 4), int(v)) for c, v in zip(cos, ids) if v != p
        ]
        # operator order: cosine DESC, vec_id ASC
        cand.sort(key=lambda t: (-t[0], t[1]))
        out[p] = [(v, c, k + 1) for k, (c, v) in enumerate(cand[:TOP_K])]
    return out


def test_brute_force_topk_matches_numpy(spark):
    got = {}
    for r in queries()["q_sim_topk"](spark, SF_TINY).collect():
        got.setdefault(r.probe_id, []).append((r.vec_id, r.cosine, r.k))
    want = _numpy_topk(spark)
    assert set(got) == set(want)
    for p in want:
        got[p].sort(key=lambda t: t[2])
        assert got[p] == want[p], f"probe {p}: {got[p]} != {want[p]}"


def test_ann_results_are_exact_cosines(spark):
    """LSH/IVF may return fewer/other neighbors (pruned candidate sets)
    but every (probe, vec, cosine) they emit must carry the TRUE cosine
    — pruning changes recall, never values."""
    rows = load_table(spark, SF_TINY, "embeddings").select("vec_id", "embedding").collect()
    ids = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    def true_cos(a, b):
        va, vb = ids[a], ids[b]
        return round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 4)

    for name in ("q_sim_topk_lsh", "q_sim_topk_ivf", "q_sim_topk_kmeans"):
        res = queries()[name](spark, SF_TINY).collect()
        assert res, f"{name} returned nothing"
        for r in res:
            assert abs(r.cosine - true_cos(r.probe_id, r.vec_id)) <= 1e-4, (
                f"{name}: ({r.probe_id},{r.vec_id}) cosine {r.cosine} != true"
            )


def test_kmeans_quantizer_beats_label_stand_in(spark):
    """The learned k-means cells with nprobe=2 must recall at least as
    many true top-5 neighbors as they lose to pruning floor — pinned as
    recall@5 >= 0.3 vs brute force (label-IVF on these near-random
    fixtures sits near 1/8 cell mass; nprobe=2 k-means must beat the
    single-cell prior of ~0.25)."""
    want = _numpy_topk(spark)
    truth = {(p, v) for p, lst in want.items() for v, _, _ in lst}
    got = {
        (r.probe_id, r.vec_id)
        for r in queries()["q_sim_topk_kmeans"](spark, SF_TINY).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.3, f"kmeans IVF recall@5 = {recall:.3f}"


def test_kmeans_centroids_converge_deterministically(spark):
    """Same data, same init => identical centroids across invocations
    (no RNG anywhere in the loop), and every vector maps to a cell."""
    from presto_cached_examples_spark.llm.similarity import _corpus, kmeans_centroids

    corpus = _corpus(spark, SF_TINY)
    c1 = kmeans_centroids(corpus, k=4, iters=2)
    c2 = kmeans_centroids(corpus, k=4, iters=2)
    assert c1 == c2
    assert len(c1) == 4 and all(len(c) == 64 for c in c1)


def test_recall_sweep_is_monotone_and_consistent(spark):
    """q_ann_recall_sweep: recall must be non-decreasing in nprobe
    (probing more cells can only add candidates), every hit count must
    be <= retrieved <= probes*k, and the nprobe=NPROBE row must agree
    with an independently-computed recall of q_sim_topk_kmeans vs the
    NumPy ground truth (the sweep IS that measurement, swept)."""
    rows = {r.nprobe: r for r in queries()["q_ann_recall_sweep"](spark, SF_TINY).collect()}
    assert sorted(rows) == [1, 2, 4]
    n_true = N_PROBES * TOP_K
    last = -1.0
    for np_ in (1, 2, 4):
        r = rows[np_]
        assert 0 <= r.n_hits <= r.n_retrieved <= n_true
        assert abs(r.recall - round(r.n_hits / n_true, 4)) <= 1e-9
        assert r.recall >= last, f"recall not monotone at nprobe={np_}"
        last = r.recall
    # cross-check nprobe=2 against the serving query it diagnoses
    want = _numpy_topk(spark)
    truth = {(p, v) for p, lst in want.items() for v, _, _ in lst}
    got = {
        (r.probe_id, r.vec_id)
        for r in queries()["q_sim_topk_kmeans"](spark, SF_TINY).collect()
    }
    assert abs(rows[2].recall - len(got & truth) / len(truth)) <= 1e-4


def _bits(xs) -> list[bytes]:
    return [struct.pack(">d", x) for x in xs]


def test_double_array_literal_is_exact(spark):
    """The one-expression constant vector (`_double_array`) reads back
    bit for bit, as the per-element `F.lit` form does, and optimizes to
    the same literal: exponents, the smallest subnormal, -0.0 and
    17-significant-digit values included. A non-finite value raises."""
    from presto_cached_examples_spark.llm.similarity import _double_array

    vals = [
        1e-05,
        1.5e300,
        5e-324,
        -0.0,
        0.1 + 0.2,  # 0.30000000000000004
        1.2345678901234567e-08,
        -1.7976931348623157e308,
        2.2250738585072014e-308,
        -0.040266,
        0.125,
    ]
    expr = spark.range(1).select(_double_array(vals).alias("a"))
    lits = spark.range(1).select(F.array(*[F.lit(x) for x in vals]).alias("a"))
    assert _bits(expr.first().a) == _bits(vals)
    assert _bits(lits.first().a) == _bits(vals)

    def plan(df):
        return re.sub(r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString())

    assert plan(expr) == plan(lits)
    nested = spark.range(1).select(_double_array([vals[:4], vals[4:]]).alias("a")).first().a
    assert [_bits(r) for r in nested] == [_bits(vals[:4]), _bits(vals[4:])]
    for bad in (math.inf, -math.inf, math.nan):
        with pytest.raises(ValueError):
            _double_array([0.0, bad])


def test_fold_replica_matches_spark_kernel(spark):
    """sampling._fold_dist2 replays the shared Spark squared-L2 fold
    (`similarity._dist2`) bit for bit: k-center's driver-side pool
    refinement certifies its picks against Spark-collected distances
    (tau), so a last-bit difference could change the selection."""
    from presto_cached_examples_spark.llm import sampling
    from presto_cached_examples_spark.llm.similarity import _corpus, _dist2, _double_array

    centers = [v for _vid, v, _d in sampling._kcenter_select(spark, SF_TINY)]
    dists = [
        _dist2(F.col("v"), _double_array(c)).alias(f"d{i}") for i, c in enumerate(centers)
    ]
    rows = _corpus(spark, SF_TINY).select("v", *dists).collect()
    assert len(rows) == 500 and len(centers) == sampling._KCENTER_K
    mismatches = [
        (i, r[f"d{i}"], sampling._fold_dist2(r.v, c))
        for r in rows
        for i, c in enumerate(centers)
        if r[f"d{i}"] != sampling._fold_dist2(r.v, c)
    ]
    assert not mismatches, mismatches[:5]
