"""BENCH harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is executed with a count-style action (collect on already-
aggregated results) so the full plan runs; timings are wall-clock per
query after a shared warm-up of the session.

Measurement policy (documented, deliberate): timings are WARM-SERVING
throughout — learned artifacts (codebooks, LM tables, split points)
are pre-built untimed under the build-time-action contract.

JVM-sizing comparability caveat (ADVICE r9 item 2): from round 9 the
bench defaults driver memory to 48g (was 16g through r8) and issues
one System.gc() after pre-warm. Cross-round headline deltas that span
r8->r9 therefore mix plan changes with the heap-environment change;
the r9 artifact measured the same tree at 8.9-9.4 s under both heaps,
so the series was not rebased.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from presto_cached_examples_spark import get_session, registry
from presto_cached_examples_spark.session import default_sf_dir


def wait_for_quiet(
    threshold: float,
    max_wait_s: float,
    poll_s: float = 10.0,
    loadfn=os.getloadavg,
    sleepfn=time.sleep,
    clock=time.monotonic,
) -> tuple[float, float]:
    """Bounded wait for the 1-minute load average to drop under
    ``threshold`` (VERDICT r13 item 2: two consecutive driver artifacts
    shipped load-warned; give a run on a transiently-busy box a chance
    to start quiet instead of stamping it unqualified immediately).

    Re-samples every ``poll_s`` seconds for at most ``max_wait_s``.
    Returns ``(load_1m, waited_s)`` — the first under-threshold sample
    (possibly the immediate one, ``waited_s`` 0.0), or the final
    over-threshold sample once the budget is spent.  The caller stamps
    ``load_warning`` from the RETURNED sample exactly as before, so a
    timed-out wait still produces an honestly-warned artifact.  The
    injectable load/sleep/clock hooks exist for deterministic tests.
    """
    start = clock()
    load = round(loadfn()[0], 2)
    while load > threshold:
        left = max_wait_s - (clock() - start)
        if left <= 0:
            break
        sleepfn(min(poll_s, left))
        load = round(loadfn()[0], 2)
    return load, round(clock() - start, 1)

# v2 set: the heavy operators added after round 1. Kept OUT of the
# frozen headline (whose total is the cross-round comparability metric)
# and reported under a separate JSON key so regressions in the newer
# surface get their own trend line without rebasing the r1 series.
HEADLINE_V2 = [
    "q_dedup_ngram",
    "q_sim_topk_kmeans",
    "q_rolling_wau",
    "q_fuzzy_match",
    "q_text_repetition",
    "q_decontam_hashed",
    "q_events_rollup",
    # round-4 additions (q_sim_pq before q_sim_adc: the encoder trains
    # the shared sub-codebooks, ADC reuses them — serving order)
    "q_boilerplate_scrub",
    "q_dedup_incremental",
    "q_sim_pq",
    "q_sim_adc",
    "q_mm_phash",
    "q_topk_skewed",
    "q_stream_interval_join",
    "q_rolling_retention",
    "q_join_bucketed",
    "q_graph_components",
    # late round-4 additions (the session-2 batch)
    "q_markov_transitions",
    "q_event_runs",
    "q_text_unigram_lm",
    "q_embed_centroids",
    "q_resample_interp",
    "q_join_bloom",
    # session-3 batch
    "q_curation_funnel",
    "q_graph_pagerank",
    "q_join_range_bucketed",
    "q_stream_topk",
    # session-4 batch
    "q_local_supplier_volume",
    "q_product_profit",
    "q_cdc_merge",
    "q_attribution_linear",
    "q_rfm_segments",
    "q_text_entropy",
    "q_text_pmi",
    "q_graph_triangles",
    "q_scan_json",
    "q_path_trigrams",
    "q_embed_sq8",
    "q_regression_zipf",
    "q_ann_pipeline",
    "q_dedup_containment",
    "q_bootstrap_ci",
    "q_concurrency_peak",
    "q_cohort_ltv",
    "q_contamination_report",
    # round-5 additions (URL/domain curation family)
    "q_dedup_url",
    "q_domain_caps",
    # round-6 additions (q_sim_topk_kmeans above trains the shared
    # codebook; the sweep reuses it from the session-artifact store,
    # plans/artifacts.py)
    "q_ann_recall_sweep",
    "q_dedup_incremental_bloom",
    "q_quality_dsir",
    "q_dedup_span",
    "q_min_cost_supplier",
    "q_important_stock",
    "q_shipmode_priority",
    "q_parts_supplier_count",
    "q_dominant_supplier",
    "q_pii_scrub",
    # round-7 additions (q_embed_power_topvec trains into plans/artifacts.py
    # at first build; bench timings see the warm serving cost)
    "q_scrub_dup_spans",
    "q_bpe_pair_stats",
    "q_vocab_coverage",
    "q_mix_schedule",
    "q_embed_power_topvec",
    "q_text_kn_bigram",
    "q_quality_ppl_filter",
    "q_count_dp",
    "q_dataset_card",
    "q_mm_audio_stats",
    "q_mm_video_meta",
    "q_curation_pipeline",
    "q_basket_rules",
    "q_sample_kcenter",
    "q_dedup_embed_sweep",
    "q_snapshot_diff",
    # late round-7 batch (quality rules, length panel, embed health,
    # graph degree histogram)
    "q_quality_gopher",
    "q_doc_length_hist",
    "q_embed_dim_stats",
    "q_embed_label_margin",
    "q_graph_degree_stats",
    "q_events_autocorr",
    "q_events_mad",
    "q_source_jaccard",
    "q_dedup_soft",
    "q_returns_wilson",
    "q_order_gaps",
    "q_revenue_ewma",
    "q_seasonal_naive",
    "q_ab_lift",
    "q_map_funcs",
    "q_join_nullsafe",
    "q_graph_khop",
    "q_rank_fusion",
    "q_cluster_purity",
    "q_quality_ensemble",
    "q_minhash_calibration",
    "q_drift_report",
    "q_langid_confusion",
    "q_events_heatmap",
    "q_sample_balanced",
    "q_revenue_moving_median",
    "q_priority_shift",
    "q_stream_alert",
]

# Headline set: one per operator family (frozen at the round-1 set for
# cross-round comparability — new families report under HEADLINE_V2).
HEADLINE = [
    # scan / filter / scalar
    "q_scan_project",
    "q_filter_basic",
    "q_json_funcs",
    "q_math_funcs",
    # joins
    "q_join_inner",
    "q_join_broadcast",
    "q_join_multiway",
    "q_join_asof",
    # aggregation
    "q_agg_pricing",
    "q_agg_distinct",
    "q_agg_rollup",
    "q_agg_percentiles",
    # reshape
    "q_pivot",
    # windows / top-k / sort / sessionization
    "q_sessionize",
    "q_window_lag",
    "q_topk_group",
    "q_sort_limit",
    # set ops / subquery
    "q_union_distinct",
    "q_subquery_scalar",
    # LLM pipeline
    "q_dedup_exact",
    "q_dedup_near",
    "q_sim_topk",
    "q_text_tokens",
    "q_text_quality",
    # streaming batch-twin
    "q_stream_tumbling",
]


def _jvm_gc_ms(spark) -> int:
    """Cumulative stop-the-world GC time of the local JVM, in ms.

    Local mode only (driver == executor): sums collectionTime over all
    GarbageCollectorMXBeans. Used to attribute per-query wall time to
    GC pressure from session-resident state (VERDICT r8 item 2: ~30
    unchanged queries read 2-6x slower once 15 pre-warmed artifacts +
    localCheckpoints were heap-resident)."""
    try:
        beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans)
    except Exception:
        return -1


def _jvm_heap_mb(spark) -> int:
    """Current JVM heap occupancy in MiB (used = total - free)."""
    try:
        rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        return int((rt.totalMemory() - rt.freeMemory()) >> 20)
    except Exception:
        return -1


def main() -> None:
    sf_dir = default_sf_dir()
    sf = sf_dir.rstrip("/").split("sf")[-1].rstrip("/")
    # The r8 driver session showed ~30 unchanged queries 2-6x slower
    # once the pre-warmed artifact state was heap-resident: 16g heap +
    # resident codebooks/checkpoints leaves too little young-gen
    # headroom at sf0.1. The bench box has 128 GiB; give the benched
    # JVM production-shaped headroom (still env-overridable).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    # Host-load preflight (round 12): a stuck 100%-CPU leftover process
    # swung the same-tree headline 60% (NOTES round-12 item 7) — record
    # the 1-minute load average before and after the timed sets so every
    # BENCH artifact carries its own quiet-box evidence.
    # Load GATE (VERDICT r12 item 3): recording load wasn't enough — the
    # r12 driver artifact shipped at load 19 and read +6.5% on unchanged
    # code. If the 1-minute load exceeds the threshold at preflight,
    # stamp the artifact `load_warning: true`; NOTES discipline treats
    # such a run as band-UNQUALIFIED (compare only quiet-box runs).
    # Threshold default 4 on this 32-cpu box, env-overridable.
    load_warn_threshold = float(os.environ.get("SPARK_GRAFT_LOAD_WARN", "4"))
    # Bounded wait-for-quiet (VERDICT r13 item 2): the r12 AND r13 driver
    # artifacts both shipped load-warned (19.01, 16.58 — leftover
    # contention, not this bench). Rather than stamping immediately,
    # re-sample for up to SPARK_GRAFT_LOAD_WAIT seconds (default 120;
    # 0 disables) and start the instant the box goes quiet. A timed-out
    # wait stamps `load_warning` exactly as before — the wait buys
    # qualification chances, never lies about contention. The wait
    # happens BEFORE the Spark session exists so our own JVM startup
    # never feeds back into the sample.
    load_wait_budget_s = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "120"))
    load_before_1m, load_wait_s = wait_for_quiet(load_warn_threshold, load_wait_budget_s)
    spark = get_session(app_name="pce-spark-bench")
    qs = registry.queries()
    names = [n for n in HEADLINE if n in qs]
    gc_ms: dict[str, int] = {}  # per-query GC attribution (all timed runs)

    # Warm up the JVM + parquet footer cache with the flagship query once.
    qs["q_agg_pricing"](spark, sf_dir).collect()

    def run_set(names: list[str], runs: int) -> tuple[dict[str, float], dict[str, float]]:
        """Per-query best-of-N plus the observed spread (max-min).

        The min is the stable engine cost — early runs absorb GC and
        shuffle-service warm-up left by their neighbors; the spread is
        published so cross-round regression triage can tell a plan
        change from box noise (VERDICT r4 item 6: q_agg_percentiles
        read +57% on untouched code from single-shot timings). The noop
        sink executes the complete physical plan (every scan, shuffle,
        and operator) but skips driver-side row serialization, so the
        number measures the engine, not Py4J transfer."""
        timings: dict[str, float] = {}
        spread: dict[str, float] = {}
        for name in names:
            samples = []
            gc0 = _jvm_gc_ms(spark)
            for _ in range(runs):
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(time.time() - t0)
            timings[name] = round(min(samples), 3)
            spread[name] = round(max(samples) - min(samples), 3)
            gc1 = _jvm_gc_ms(spark)
            if gc0 >= 0 and gc1 >= 0:
                gc_ms[name] = gc_ms.get(name, 0) + (gc1 - gc0)
        return timings, spread

    # Pre-fork the Python worker pool before any timed run: the first
    # Arrow mapInPandas query in a loaded session otherwise absorbs
    # interpreter/pool startup for all its tasks (round-7 saw
    # q_mm_audio_stats read 11-44s in-bench vs 0.9s isolated) — a real
    # cluster pre-forks workers, so the bench should measure the
    # engine, not the cold pool.
    import pandas as _pd

    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Pre-warm the learned-artifact family once, untimed (VERDICT r7
    # item 7): these queries train/materialize session-memoized
    # artifacts (codebooks, range splits, Bloom counts, the k-center
    # selection, the curation survivor set) on FIRST build/run under
    # the documented build-time-action contract. A production session
    # pays that ingest cost once, so the timed passes should measure
    # warm serving — previously the cold first run landed in the
    # published spread (q_curation_pipeline 13.0s / q_basket_rules
    # 12.2s spread at r7).
    PREWARM = [
        "q_sim_topk_kmeans",
        "q_sim_pq",
        "q_sim_adc",
        "q_ann_pipeline",
        "q_embed_power_topvec",
        "q_sample_kcenter",
        "q_dedup_embed_sweep",
        "q_minhash_calibration",
        "q_quality_ppl_filter",
        "q_quality_ensemble",
        "q_curation_pipeline",
        "q_basket_rules",
        "q_mix_schedule",
        # first-run materializations (bucketed warehouse tables, the
        # session-memoized copurchase edge checkpoint) — same
        # ingest-time-artifact class as the trainers above
        "q_join_bucketed",
        "q_graph_components",
    ]
    for name in PREWARM:
        if name in qs:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # Compact once after the pre-warm so the timed passes start from a
    # settled heap: the artifact builds leave a full-GC-sized garbage
    # backlog that otherwise lands on whichever timed query triggers
    # the collection (the r8 inflation mechanism — unchanged plans, 2-6x
    # wall time). One explicit full GC here is the steady-state-serving
    # posture; per-query costs still show up in queries_gc_ms.
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    heap_after_prewarm_mb = _jvm_heap_mb(spark)
    gc_before_timed_ms = _jvm_gc_ms(spark)

    # headline: best-of-3 (the cross-round comparability series — worth
    # the extra pass); v2: best-of-2 (47 queries, trend line only; the
    # spread column makes box-noise regressions self-diagnosing —
    # VERDICT r5 saw two false alarms from spread-less v2 timings)
    timings, spread = run_set([n for n in HEADLINE if n in qs], runs=3)
    timings_v2, spread_v2 = run_set([n for n in HEADLINE_V2 if n in qs], runs=2)

    # Transient triage: a GC/compaction spike from a neighboring query
    # can hand one sample a multi-second tail (r8: q_quality_ensemble
    # read 5.9s spread in-bench vs 0.65s over 4 isolated runs) — and a
    # spike that spans BOTH back-to-back samples shows a TIGHT spread
    # around a wrong number (round 10: ensemble read 9.9s/0.5s-spread
    # in one run, 1.9s the next; the 4-10s inflation rotated across
    # 2-3 artifact-class queries per run). Triage both shapes: any v2
    # query whose spread exceeds 3s OR whose best sample exceeds 3s
    # (no steady-state v2 query is above ~2.6s) re-samples twice after
    # an explicit full GC. If the fresh pair is tight and fast, the
    # original reading was transient — the published timing is the min
    # over ALL 4 samples (best-of-4 where the rest of v2 gets
    # best-of-2; queries_v2_transients records which, with the sample
    # count and trigger, so the asymmetry is visible — ADVICE r8), and
    # the published spread is the fresh pair's. If the fresh pair
    # still agrees with the slow reading, it is real and stands.
    transients_v2: dict[str, dict[str, float]] = {}
    for name, sp in list(spread_v2.items()):
        spiked = timings_v2[name] > 3.0
        if sp <= 3.0 and not spiked:
            continue
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        t_retry, s_retry = run_set([name], runs=2)
        # "tight AND fast": a spiked query only counts as transient if
        # the fresh pair lands back under the steady-state ceiling —
        # a tight retry that is still slow (e.g. 9.9s -> 9.7s) is a
        # REAL regression and the slow reading must stand in the
        # artifact, not be relabeled a spike (round-10 review fix)
        if s_retry[name] < 3.0 and (not spiked or t_retry[name] < 3.0):
            transients_v2[name] = {
                "original_spread": sp,
                "original_best": timings_v2[name],
                "samples": 4,
            }
            timings_v2[name] = min(timings_v2[name], t_retry[name])
            spread_v2[name] = s_retry[name]
    gc_after_timed_ms = _jvm_gc_ms(spark)
    payload = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_spread": spread,
        "headline_v2_total_sec": round(sum(timings_v2.values()), 3),
        "queries_v2": timings_v2,
        "queries_v2_spread": spread_v2,
        "queries_v2_transients": transients_v2,
        # Methodology + session-state telemetry (VERDICT r8 item 2 /
        # ADVICE r8): timings are warm-serving from r8 onward (learned
        # artifacts pre-built, untimed); gc attribution separates a
        # plan regression from heap pressure caused by resident state.
        "prewarmed": True,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", ""),
        "heap_after_prewarm_mb": heap_after_prewarm_mb,
        "timed_gc_total_ms": (
            gc_after_timed_ms - gc_before_timed_ms
            if gc_before_timed_ms >= 0 and gc_after_timed_ms >= 0
            else -1  # instrumentation-unavailable sentinel, never a delta
        ),
        "queries_gc_ms": gc_ms,
        "load_1m": [load_before_1m, round(os.getloadavg()[0], 2)],
        "load_wait_s": load_wait_s,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Gate on the PREFLIGHT sample only: the post-run sample measures the
    # bench's own local[32] work (quiet-box r13 A/B read 17.9/12.6 AFTER
    # while starting from 0.85/1.41) — only load already present BEFORE
    # the timed sets is foreign contention.
    payload["load_warning"] = load_before_1m > load_warn_threshold
    if payload["load_warning"]:
        print(
            f"WARNING: preflight load_1m {load_before_1m} exceeds "
            f"{load_warn_threshold} — timings are band-UNQUALIFIED "
            "(contended box); re-run on a quiet box before comparing.",
            file=sys.stderr,
        )
    # Truncation-proof record (VERDICT r5 item 7: BENCH_r05.json lost
    # its headline value to tail-truncated stdout capture): the full
    # payload also lands as a file next to this script, committed with
    # the round, BEFORE stdout printing can be clipped.
    try:
        out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json")
        with open(out_path, "w") as f:
            json.dump(payload, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout — stdout line still carries everything
    print(json.dumps(payload))
    # The driver records only the LAST ~2.2 kB of stdout, so the full
    # payload line above (245-query map, ~8 kB) loses its head — every
    # BENCH_r0N.json so far has parsed: null (VERDICT r7 item 6). Emit
    # a compact summary as the FINAL line: headline metric + per-query
    # headline timings + v2 totals + slowest-5, guaranteed to fit the
    # tail capture. bench_out.json keeps the complete record.
    slowest5 = dict(
        sorted(timings_v2.items(), key=lambda kv: -kv[1])[:5]
    )
    # The full v2 per-query map at name:float width is ~3 kB — it never
    # fits the driver's ~2.2 kB tail capture alongside the headline map,
    # which is how BENCH_r09.json lost the v2 breakdown mid-object
    # (VERDICT r9 what's-wrong #2). Encode it POSITIONALLY instead:
    # integer milliseconds in v2 run order (HEADLINE_V2 filtered to
    # registered queries — the order this very script ran them), ~0.5 kB.
    # v2_order_sha pins the name<->index correspondence to this script's
    # committed list, so the artifact alone plus bench.py recovers every
    # per-query timing.
    import hashlib

    v2_names = [n for n in HEADLINE_V2 if n in qs]
    compact = {
        "metric": "headline_queries_total_sec",
        "value": payload["value"],
        "unit": "sec",
        "queries": timings,
        "headline_v2_total_sec": payload["headline_v2_total_sec"],
        "v2_n_queries": len(timings_v2),
        "v2_ms": [int(round(timings_v2[n] * 1000)) for n in v2_names],
        "v2_order": "HEADLINE_V2",
        "v2_order_sha": hashlib.sha256(",".join(v2_names).encode()).hexdigest()[:8],
        "v2_slowest5": slowest5,
        "v2_max_spread_sec": round(max(spread_v2.values()), 3) if spread_v2 else 0.0,
        "prewarmed": True,
        "timed_gc_total_ms": payload["timed_gc_total_ms"],
        "load_1m": payload["load_1m"],
        "load_wait_s": payload["load_wait_s"],
        "load_warning": payload["load_warning"],
        "sf": payload["sf"],
    }
    line = json.dumps(compact)
    if len(line) >= 2000:
        # never crash the bench over the summary: shed in recoverability
        # order — slowest5 first (derivable from v2_ms + bench.py), then
        # the headline map, then v2_ms itself; bench_out.json keeps all
        for key in ("v2_slowest5", "queries", "v2_ms"):
            compact.pop(key, None)
            line = json.dumps(compact)
            if len(line) < 2000:
                break
    print(line)


if __name__ == "__main__":
    main()
