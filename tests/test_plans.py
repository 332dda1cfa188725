"""Plan-shape regression tests (SURVEY.md §5.2 item 6).

These guard the §4.2 "Catalyst already does it" assumptions: if a
config or code change silently turns a broadcast join into a
sort-merge join, drops parquet filter pushdown, or lets a Python UDF
leak into a hot path, the bench would degrade long before correctness
does — so the plan itself is the asserted artifact.

All assertions run on the *planned* (never executed) DataFrame, so the
whole module costs planning time only.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from presto_cached_examples_spark import registry
from tests.conftest import SF_TINY

SPECS = registry.all_specs()

# Queries that intentionally cross the JVM→Python Arrow boundary
# (declared UDF surface + the multimodal mapInPandas plumbing).
PANDAS_ALLOWED = {
    "udf_pack_pen",
    "udaf_weighted_avg",
    "q_mm_features",
    "q_mm_resize",
    "q_mm_frames",
    "q_mm_phash",
    "q_mm_audio_stats",
    "q_mm_video_meta",
}

PYTHON_EVAL_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "AggregateInPandas",
    "ArrowAggregatePython",
)


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def build(spark, name: str):
    return SPECS[name].fn(spark, SF_TINY)


def test_broadcast_join_chosen(spark):
    """q_join_broadcast: the bounded dimension must broadcast — the probe
    side never shuffles (C1 'small hot side')."""
    p = plan_of(build(spark, "q_join_broadcast"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_multiway_broadcasts_dimensions(spark):
    """q_join_multiway: nation and region ride broadcast joins; only the
    fact-chain joins may shuffle."""
    p = plan_of(build(spark, "q_join_multiway"))
    assert p.count("BroadcastHashJoin") >= 2


def test_range_join_is_broadcast_nested_loop(spark):
    """q_join_range: bounded customer slice broadcast into an INNER
    BroadcastNestedLoopJoin (BuildRight — the broadcast side really is
    the bounded one), single pass over orders, never a cartesian
    shuffle; the zero-fill join is a broadcast hash join."""
    p = plan_of(build(spark, "q_join_range"), mode="simple")
    assert "BroadcastNestedLoopJoin BuildRight, Inner" in p
    assert "CartesianProduct" not in p
    # orders scanned exactly once + customer twice (slice + zero-fill)
    assert p.count("FileScan parquet") == 3


def test_filter_pushdown_reaches_scan(spark):
    """q_filter_basic: predicates must reach the parquet reader."""
    p = plan_of(build(spark, "q_filter_basic"))
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "PushedFilters is empty — pushdown lost"


def test_column_pruning_reaches_scan(spark):
    """q_agg_pricing: the lineitem scan must not read columns the query
    never touches (l_partkey/l_suppkey) — ReadSchema is the proof."""
    p = plan_of(build(spark, "q_agg_pricing"))
    assert "ReadSchema" in p
    assert "l_partkey" not in p
    assert "l_suppkey" not in p


def test_whole_stage_codegen_covers_agg(spark):
    """q_agg_pricing runs inside whole-stage codegen (JVM fast path).
    The unexecuted AQE plan hides codegen annotations, so ask for the
    codegen dump itself — it lists each WholeStageCodegen subtree."""
    p = plan_of(build(spark, "q_agg_pricing"), mode="codegen")
    assert "WholeStageCodegen" in p


def test_partial_aggregation(spark):
    """q_agg_pricing: hash aggregation must be two-phase (map-side
    partial then final) so the shuffle moves group states, not rows."""
    p = plan_of(build(spark, "q_agg_pricing"))
    assert p.count("HashAggregate") >= 2


def test_sort_limit_is_top_k(spark):
    """q_sort_limit: global ORDER BY + LIMIT must plan as
    TakeOrderedAndProject (per-partition top-N), never a full sort."""
    p = plan_of(build(spark, "q_sort_limit"))
    assert "TakeOrderedAndProject" in p


@pytest.mark.parametrize("name", sorted(set(SPECS) - PANDAS_ALLOWED))
def test_no_python_in_row_path(spark, name):
    """Every query outside the declared UDF/multimodal surface stays
    JVM-side: no Python evaluation node anywhere in its physical plan."""
    p = plan_of(build(spark, name), mode="simple")
    for node in PYTHON_EVAL_NODES:
        assert node not in p, f"{name}: {node} leaked into the row path"


def test_window_dist_scalable_has_no_rawrow_segment_window(spark):
    """q_window_dist_scalable: any window that orders raw rows (by
    c_acctbal) must be partitioned by (segment, bucket) — never by the
    5-cardinality segment alone. The segment-only windows in this plan
    run over per-bucket aggregate rows (domain-bounded)."""
    import re

    p = plan_of(build(spark, "q_window_dist_scalable"), mode="simple")
    specs = re.findall(r"windowspecdefinition\([^)]*\)", p)
    assert specs
    raw_row_specs = [s for s in specs if "c_acctbal" in s]
    assert raw_row_specs, "expected an intra-bucket ranking window"
    for s in raw_row_specs:
        assert "bucket" in s, f"raw-row window not bucket-scoped: {s}"


def test_window_range_scalable_has_no_range_frame(spark):
    """q_window_range_scalable: the ±100 frame is rewritten into sweep
    cumulative sums + equi-joins — the plan must contain no RANGE-frame
    window at all (that was the single-partition scale hazard)."""
    p = plan_of(build(spark, "q_window_range_scalable"), mode="simple")
    assert "RangeFrame" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_window_dist_exact_equals_scalable(spark):
    """The demoted exact twin (straight window over segment — the
    readable formulation) and the registered bucket-decomposed rewrite
    must agree row-for-row; this is the twin's remaining job now that
    it is off the registered surface."""
    from presto_cached_examples_spark.operators.analytics import q_window_dist

    exact = q_window_dist(spark, SF_TINY)
    scalable = build(spark, "q_window_dist_scalable")
    assert _rows(exact) == _rows(scalable)


def test_window_range_exact_equals_scalable(spark):
    """Same cross-validation for the RANGE-frame pair."""
    from presto_cached_examples_spark.operators.analytics import q_window_range_frame

    exact = q_window_range_frame(spark, SF_TINY)
    scalable = build(spark, "q_window_range_scalable")
    assert _rows(exact) == _rows(scalable)


def test_sample_hash_topk_plans_window_group_limit(spark):
    """q_sample_hash_topk's rank<=k filter must push a WindowGroupLimit
    below the shuffle — map tasks keep their local top-5 per stratum,
    so the exchange never carries the corpus."""
    p = plan_of(build(spark, "q_sample_hash_topk"), mode="simple")
    assert "WindowGroupLimit" in p


def test_fuzzy_match_is_blocked_equi_join(spark):
    """q_fuzzy_match must plan an equi-join on the blocking key (hash
    or sort-merge), never a nested-loop/cartesian over all name pairs;
    levenshtein may only appear as a post-join filter."""
    p = plan_of(build(spark, "q_fuzzy_match"), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


@pytest.mark.parametrize("name", ["q_rolling_wau", "q_rolling_wau_approx"])
def test_rolling_wau_never_windows_raw_events(spark, name):
    """Rolling WAU: no window operator at all (sliding DISTINCT is
    rewritten as map-side expansion of each (day,user) pair / daily
    sketch to its ≤7 covering window days + hash aggregate), and no
    BroadcastNestedLoopJoin — the round-3 day-spine range join
    evaluated every pair against every spine day, O(pairs × days)."""
    p = plan_of(build(spark, name), mode="simple")
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Generate explode" in p  # the map-side window expansion


def test_events_rollup_daily_reads_hourly_not_raw(spark):
    """q_events_rollup: exactly one scan node for the events file — the
    daily tier must read the persisted hourly tier (InMemoryTableScan),
    not re-aggregate raw events. The tree renders the shared scan once
    per branch, so count unique detail entries, not tree lines."""
    import re

    p = plan_of(build(spark, "q_events_rollup"), mode="formatted")
    assert "InMemoryTableScan" in p
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1


def test_bucketed_join_has_no_exchange(spark):
    """q_join_bucketed: both sides bucketed+sorted on the join key with
    equal bucket counts — the sort-merge join must consume bucket files
    directly, with NO exchange anywhere in the plan (the pre-paid
    shuffle design)."""
    p = plan_of(build(spark, "q_join_bucketed"), mode="simple")
    assert "SortMergeJoin" in p
    assert "Exchange" not in p


def test_rolling_retention_is_map_side_expansion(spark):
    """q_rolling_retention: same discipline as the WAU rewrite — no
    window, no BroadcastNestedLoopJoin, explode-expansion present."""
    p = plan_of(build(spark, "q_rolling_retention"), mode="simple")
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Generate explode" in p


def test_profile_stats_is_single_pass(spark):
    """q_profile_stats: every per-column profile must come out of ONE
    aggregate over ONE parquet scan (multi-distinct plans as Expand +
    partial agg) — profiling more columns may never add table passes."""
    import re

    p = plan_of(build(spark, "q_profile_stats"), mode="formatted")
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert "Expand" in p  # the multi-distinct rewrite


def test_lateral_topk_decorrelates_to_window_limit(spark):
    """q_lateral_topk: Catalyst must decorrelate the LATERAL subquery
    into an equi-join + WindowGroupLimit — no per-outer-row
    re-execution (cartesian) survives into the physical plan."""
    p = plan_of(build(spark, "q_lateral_topk"), mode="simple")
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p


def test_asof_tol_is_equi_join_on_user(spark):
    """q_join_asof_tol: the matcher joins on user_id as an EQUI join
    (hash/sort-merge) with both time bounds as residual predicates —
    never a nested-loop pairing of all purchases x clicks."""
    p = plan_of(build(spark, "q_join_asof_tol"), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p


def test_cdc_merge_uses_window_group_limit(spark):
    """q_cdc_merge: latest-per-key compaction must push the rn=1 filter
    into the sort (WindowGroupLimit) — each partition keeps one row per
    user instead of fully sorting the changelog."""
    p = plan_of(build(spark, "q_cdc_merge"), mode="simple")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_attribution_is_equi_join_on_user(spark):
    """q_attribution_linear: the touch-purchase pairing must be an
    EQUI join on user_id with the time bounds as residual predicates —
    the bounded-state stream-stream shape, never a nested loop."""
    p = plan_of(build(spark, "q_attribution_linear"), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_text_entropy_is_map_side(spark):
    """q_text_entropy: prefix char entropy is pure map-side HOFs — no
    key shuffle, no join, no window anywhere in the plan (the only
    exchange ever allowed is spread()'s round-robin fan-out on
    under-split fixture scans)."""
    p = plan_of(build(spark, "q_text_entropy"), mode="simple")
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert "Join" not in p
    assert "Window" not in p


def test_local_supplier_volume_broadcasts_dims(spark):
    """q_local_supplier_volume: the nation/region allow-list reaches
    supplier as a broadcast; no cartesian anywhere."""
    p = plan_of(build(spark, "q_local_supplier_volume"), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_quality_tiers_single_scan(spark):
    """q_quality_tiers: scoring + tiering is one documents scan; the
    share denominator re-reads the 3-row aggregate, not the table."""
    import re

    p = plan_of(build(spark, "q_quality_tiers"), mode="formatted")
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) <= 2


def test_dpp_prunes_fact_partitions(spark):
    """q_join_dpp: the data-derived day list must reach the
    partitioned fact scan as a dynamicpruningexpression in
    PartitionFilters — runtime partition pruning, not a post-join
    filter."""
    p = plan_of(build(spark, "q_join_dpp"), mode="formatted")
    assert "dynamicpruningexpression" in p.lower()


def test_stream_interval_left_pushes_filters(spark):
    """q_stream_interval_left: both event_type filters reach the scans
    (pushed), and the pairing stays an equi-join on user_id."""
    p = plan_of(build(spark, "q_stream_interval_left"), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_concurrency_sweep_is_day_partitioned(spark):
    """q_concurrency_peak: the boundary-stream running sum must run
    inside per-day partitions (segmented two-pass prefix sum) — the
    only single-partition window allowed is the calendar-bounded
    day-offsets pass."""
    p = plan_of(build(spark, "q_concurrency_peak"), mode="simple")
    assert "hashpartitioning(day" in p

def test_domain_caps_pushes_window_group_limit(spark):
    """q_domain_caps: the per-domain cap must ride a WindowGroupLimit
    (map tasks keep local top-cap per domain pre-shuffle) — the total
    count intentionally lives in a separate plain aggregate so it can't
    drag every row through the window."""
    p = plan_of(build(spark, "q_domain_caps"), mode="simple")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p

def test_basket_rules_pairs_are_map_side(spark):
    """q_basket_rules (round-8 cap): the pair stage must stay a
    map-side HOF expansion over the capped per-order set — at most ONE
    parquet scan of lineitem feeds baskets (supports, totals,
    truncation count and pairs all derive from the same
    localCheckpoint) and no CartesianProduct. (The two 1-row scalar
    broadcasts — n_baskets, n_truncated — plan as the accepted
    BroadcastNestedLoopJoin-over-one-row pattern, so BNLJ itself is
    not banned here.)"""
    import re

    p = plan_of(build(spark, "q_basket_rules"), mode="formatted")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) <= 1
    # the pair expansion is array-local: explode over the HOF-built
    # pair-struct array (never a lineitem self-join on l_orderkey) —
    # match that specific Generate, not any Generate in the tree
    # (ADVICE r8: the old "or 'Generate' in p" disjunct was tautological)
    assert re.search(r"explode\(flatten\(transform\(.*struct\(pa", p)


def test_graph_khop_caps_hub_fanout(spark):
    """q_graph_khop (round-8 hub cap): the per-node adjacency rank must
    plan as WindowGroupLimit so a hub's full edge list never buffers in
    one window state, and the hop self-join must stay an equi-join on
    the hop node — the capped plan is the scale contract (VERDICT r7
    item 2), not an optimizer accident."""
    p = plan_of(build(spark, "q_graph_khop"), mode="simple")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_agg_percentiles_has_no_buffered_percentile_state(spark):
    """q_agg_percentiles (round-5 rewrite): exact quantiles must come
    from the cent-bucket decomposition — no `percentile` aggregate
    whose per-group state buffers every value (the r4 scale-killer).
    The only window runs over domain-bounded per-bucket count rows.
    Executed, the up-front repartition is shared: the offsets branch
    reuses the join branch's exchange, so lineitem is scanned once."""
    df = build(spark, "q_agg_percentiles")
    p = plan_of(df, mode="formatted")
    assert "percentile(" not in p.lower()
    assert "Window" in p  # the cum/n running-sum over bucket counts
    df.collect()
    final = df._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()
    assert final.count("lineitem.parquet") == 1, final
    assert "ReusedExchange" in final

def test_scan_orc_pushes_filter_and_prunes_columns(spark):
    """q_scan_orc: the n_chars predicate must reach the ORC reader
    (stripe-stat pruning) and only the referenced columns may be read —
    the property that makes ORC the one landing format that behaves
    like parquet at 100 TB (its docstring's claim, pinned here)."""
    p = plan_of(build(spark, "q_scan_orc"))
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "n_chars" in pushed, f"n_chars not pushed: {pushed!r}"
    rs = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "text" not in rs, f"text column not pruned from ORC scan: {rs}"


def test_scan_csv_json_prune_nothing_but_stay_jvm(spark):
    """The CSV/JSON landing legs cannot push/prune (their docstrings'
    point) but must still be pure JVM plans with a two-phase agg."""
    for name in ("q_scan_csv", "q_scan_json"):
        p = plan_of(build(spark, name), mode="simple")
        assert "HashAggregate" in p
        for node in PYTHON_EVAL_NODES:
            assert node not in p, f"{name}: {node} leaked into the plan"


# ---------------------------------------------------------------------------
# Unpartitioned-window discipline (VERDICT r5 item 4)
#
# A WindowExec with no PARTITION BY serializes its input through ONE
# task — the classic silent scale-killer. Every current unpartitioned
# window sits on an already-aggregated, domain-bounded relation (a
# calendar day spine, a |languages|-row mixture table, per-tier rows),
# which is scale-safe BY CONSTRUCTION — but nothing used to pin that: a
# future query with a global window over a data-proportional relation
# would sail through silently. This audit fails on any unpartitioned
# Window outside the explicit allow-list below.
#
# Allow-list rationale (each case is bounded by a fixed domain or a
# fixed fan-out, never by data volume). Each entry caps how many
# unpartitioned windows its query may plan, so a new data-proportional
# window inside an allowed query still fails the audit. The list is
# EXACT: the audit also fails when an entry plans fewer windows than its
# cap (test_window_allowlist_entries_still_unpartitioned), so every
# count here corresponds to real nodes in a real plan.
#
# NOT on the list anymore: q_ntile_spend and q_rfm_segments ranked a
# data-proportional per-customer relation through a single-task NTILE
# window until round 6 — the audit's first catch. Both now use
# distwindows.global_rank (range-bucket decomposition; their remaining
# unpartitioned windows are the <=64-row prefix-offset relations, two
# per global_rank: the offset prefix sum and the grand total).
# ---------------------------------------------------------------------------

WINDOW_UNPARTITIONED_ALLOWED: dict[str, tuple[int, str]] = {
    "q_window_frame": (1, "day-spine relation (|days| rows)"),
    "q_resample_interp": (1, "daily revenue spine (|days| rows)"),
    "q_mix_temperature": (2, "per-language mixture table (|langs| rows)"),
    "q_mix_weights": (1, "per-language mixture table (|langs| rows)"),
    "q_regression_zipf": (1, "vocabulary-bounded unigram ranks (|vocab| rows)"),
    "q_concurrency_peak": (1, "per-day boundary prefix (|days| rows)"),
    "q_anomaly_zscore": (1, "trailing z-window over the day spine (|days| rows)"),
    "q_revenue_ewma": (1, "trailing EWMA frame over the day spine (|days| rows)"),
    "q_revenue_moving_median": (1, "trailing median frame over the day spine"),
    "q_path_trigrams": (1, "global share over |event_types|^3 trigram rows"),
    "q_text_unigram_lm": (1, "corpus-total window over |vocab| rows"),
    "q_sample_weighted": (
        1,
        "rank<=25 pushes a TakeOrderedAndProject(25) BELOW the window "
        "(LimitPushDownThroughWindow) — the unpartitioned window sees "
        "exactly k rows (asserted in test_sample_weighted_pushes_topk)",
    ),
    "q_ntile_spend": (2, "global_rank prefix offsets (<= 64 bucket rows)"),
    "q_rfm_segments": (6, "global_rank prefix offsets (<= 64 bucket rows, x3)"),
    "q_mix_schedule": (1, "global_rank prefix offsets (<= 64 bucket rows)"),
    "q_curation_pipeline": (1, "global_rank prefix offsets (<= 64 bucket rows)"),
}


def test_sample_weighted_pushes_topk(spark):
    """q_sample_weighted's allow-list entry depends on the rank<=25
    filter pushing a distributed top-k (TakeOrderedAndProject) below
    the unpartitioned window, so the window input is k rows — pin it
    so a filter refactor can't silently drop the bound."""
    p = plan_of(build(spark, "q_sample_weighted"))
    assert "TakeOrderedAndProject" in p


def _unpartitioned_windows(df) -> int:
    """Count logical Window nodes with an empty partitionSpec in the
    optimized plan (optimized, not physical: WindowGroupLimit rewrites
    and exchange placement don't change the partitionSpec we audit)."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    bad = 0
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls in ("Window", "WindowGroupLimit") and node.partitionSpec().isEmpty():
            bad += 1
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return bad


@pytest.mark.parametrize("name", sorted(SPECS))
def test_no_unpartitioned_windows_outside_allowlist(spark, name):
    n = _unpartitioned_windows(build(spark, name))
    cap = WINDOW_UNPARTITIONED_ALLOWED.get(name, (0, ""))[0]
    assert n <= cap, (
        f"{name}: {n} unpartitioned Window node(s) in the optimized plan, "
        f"{cap} allowed — either partition it or raise its "
        "WINDOW_UNPARTITIONED_ALLOWED count with a domain-boundedness justification"
    )


def test_window_allowlist_entries_still_unpartitioned(spark):
    """Keep the allow-list honest: an entry's count must equal the
    unpartitioned windows its query plans today."""
    stale = {
        name: (cap, n)
        for name, (cap, _) in WINDOW_UNPARTITIONED_ALLOWED.items()
        if (n := _unpartitioned_windows(build(spark, name))) != cap
    }
    assert not stale, f"allow-list counts (allowed, planned) out of date: {stale}"


def test_min_cost_supplier_is_topk_no_cartesian(spark):
    """q_min_cost_supplier: the correlated MIN decorrelates to joins
    (no cartesian) and the LIMIT plans as distributed top-k."""
    p = plan_of(build(spark, "q_min_cost_supplier"), mode="simple")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_important_stock_threshold_is_scalar_broadcast(spark):
    """q_important_stock: the fraction-of-total threshold is a 1-row
    broadcast scalar (the accepted BNLJ pattern), and the final LIMIT
    is distributed top-k."""
    p = plan_of(build(spark, "q_important_stock"), mode="simple")
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_shipmode_priority_pushes_date_filter(spark):
    """q_shipmode_priority: the ship-date range must reach the parquet
    scan so a 100 TB fact table reads one year, not seven."""
    p = plan_of(build(spark, "q_shipmode_priority"))
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed


def test_parts_supplier_count_denylist_is_broadcast_anti(spark):
    """q_parts_supplier_count: the negative-balance denylist applies as
    a broadcast anti-join before the distinct, never a shuffle."""
    p = plan_of(build(spark, "q_parts_supplier_count"), mode="simple")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_dominant_supplier_prunes_fact_first(spark):
    """q_dominant_supplier: ship-year filter reaches the lineitem scan
    and the plan has no cartesian product."""
    p = plan_of(build(spark, "q_dominant_supplier"))
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed
    assert "CartesianProduct" not in p


def test_ann_recall_sweep_single_truth_execution(spark):
    """q_ann_recall_sweep: the exact ground-truth branch must execute
    ONCE — union accounting derives n_retrieved/n_hits/n_true from the
    same pass (round 10; the doubled branch cost 11 shuffles/6 scans,
    the VERDICT r8/r9 bar is <=9 shuffles)."""
    import re

    p = plan_of(build(spark, "q_ann_recall_sweep"), mode="formatted")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 9
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 4
    assert "CartesianProduct" not in p
