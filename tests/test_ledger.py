"""tools/ledger.py splits every run of a query into perfbench's layers;
on a warm pass the two builders here run no job and compile nothing."""

from __future__ import annotations

from tests.conftest import SF_TINY
from tools import ledger

LAYERS = (
    "registry.build_ms",
    "registry.build_jobs",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.ms",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.gc_ms",
    "codegen.compiles",
    "wall_ms",
)


def test_ledger_sweep_records_every_layer(spark):
    names = ["q_agg_pricing", "q_sim_topk_kmeans"]
    runs = ledger.sweep(spark, SF_TINY, names, passes=3)
    assert list(runs) == names
    for name, layers in runs.items():
        assert len(layers) == 4, name
        rec = ledger.record(name, layers)
        for got in (*layers, rec["cold"], rec["warm"]):
            assert set(LAYERS) <= set(got), (name, sorted(set(LAYERS) - set(got)))
        assert len(rec["warm_wall_ms"]) == len(rec["warm_compiles"]) == 3
        last = layers[-1]
        assert last["registry.build_jobs"] == 0, (name, last)
        assert last["exec.jobs"] >= 1, (name, last)
    # the generated-code cache holds the working set of a warm pass
    assert runs["q_sim_topk_kmeans"][-1]["codegen.compiles"] == 0
