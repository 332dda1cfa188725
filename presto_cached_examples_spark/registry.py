"""Query registry — the engine's declared query surface.

Every operator from SURVEY.md §2.B registers here with a builder
function `(spark, sf_dir) -> DataFrame` and, when SQL-expressible, an
ANSI-SQL oracle string DuckDB can run over the same parquet views.
A query registered with `register_sql` has no Python builder: its
builder runs that oracle string through `spark.sql`.
`__spark_entry__.py` exposes this registry to the driver.

Discipline (SURVEY.md §5.2 / FIXTURES.md): every computed column is
aliased identically on both sides; double-typed aggregates are wrapped
in ROUND(x, 2) on both sides so summation-order ULP drift can't break
the order-insensitive value hash.

Build-time-action contract (ADVICE r6 item 4): builder functions are
ALLOWED to run bounded, model-sized Spark jobs at plan-construction
time when the query depends on a learned or measured artifact — k-means
codebooks (llm/similarity._corpus_centroids), range split points
(operators/distwindows.range_splits' approxQuantile), the standing-
corpus count that sizes the incremental-dedup Bloom filter, the
bucketed/evolved warehouse materializations. All such artifacts live
in the session-artifact store (plans/artifacts.memo, keyed on
(session_token, sf_dir, name)), so only the FIRST build per session
pays; every later run of the builder is pure plan assembly
(tests/test_round7_ops.py pins this with a job-group probe).
``artifacts.release(spark)`` drops them and unpersists what they
pinned. Callers that need strictly action-free construction should
warm the session once, or treat the first build as ingest.

Plan cache: ``queries()`` does not rerun the builder on a repeated
build either. The first call per session and fixture directory runs the
builder and returns its DataFrame unchanged; it keeps the DataFrame's
analyzed logical plan as the artifact ``(artifacts.PLAN, name)``. A
later call returns a new DataFrame with its own QueryExecution over
that plan, so Catalyst optimization, physical planning and execution
still run in full, and no final plan or shuffle output is shared
between calls. A plan with a ``LogicalRDD`` leaf (a checkpoint) is not
kept: its builder runs on every call, as it would without the cache,
so a lost checkpoint block is rebuilt rather than reread.
``artifacts.forget`` drops the plans of its fixture directory, since a
plan embeds its artifacts' values. ``QuerySpec.fn`` stays the raw
builder.
"""

from __future__ import annotations

import functools
import importlib
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from presto_cached_examples_spark.plans import artifacts
from presto_cached_examples_spark.session import ship_package_to_workers
from presto_cached_examples_spark.sources.catalog import register_all

QueryFn = Callable[[SparkSession, str], DataFrame]

_ROUND_RE = re.compile(r"\bROUND\s*\(", re.IGNORECASE)
_PAREN_STEP = {"(": 1, ")": -1}


def _code_positions(sql: str):
    """Yield every index of ``sql`` that lies outside a ``'...'`` string
    literal (``''`` escapes itself) and a ``--`` line comment. The ROUND
    rewrite and its paren-balance guard read only these positions, so a
    ``ROUND(`` or a paren inside a literal or comment is never taken for
    SQL (ADVICE r5 item 1)."""
    i, n = 0, len(sql)
    while i < n:
        if sql[i] == "'":
            i += 1
            while i < n and not (sql[i] == "'" and sql[i + 1 : i + 2] != "'"):
                i += 2 if sql[i] == "'" else 1
            i += 1  # past the closing quote
        elif sql.startswith("--", i):
            nl = sql.find("\n", i)
            i = n if nl < 0 else nl + 1
        else:
            yield i
            i += 1


def _paren_balance(sql: str) -> int:
    """Net paren balance outside string literals and line comments —
    the transform's loud-failure invariant."""
    return sum(_PAREN_STEP.get(sql[i], 0) for i in _code_positions(sql))


def neutralize_negative_zero(sql: str) -> str:
    """Rewrite every ``ROUND(...)`` in an oracle to ``(ROUND(...) + 0.0)``.

    DuckDB's ROUND is IEEE sign-preserving: a tiny negative double rounds
    to ``-0.0``, while Spark's ROUND goes through BigDecimal (no signed
    zero) and yields ``+0.0``. The driver's value hasher distinguishes the
    two, so any oracle whose rounded double can be tiny-and-negative
    (z-scores, PMI, log-ratios, slopes, lags, correlations) is one unlucky
    fixture row away from a hash mismatch — round 4 shipped exactly two
    (q_text_pmi, q_embed_outliers). ``x + 0.0`` is the IEEE-sanctioned
    normalization (``-0.0 + 0.0 == +0.0``; every other value, incl. NULL,
    is unchanged) and DOUBLE + 0.0 stays DOUBLE, so the transform is a
    semantic no-op everywhere except the one bit it exists to kill.

    Applied uniformly at registration so the local checker and the driver
    both see the neutralized SQL — a blanket discipline, not per-query
    spot patches.
    """
    out: list[str] = []
    pos = 0
    code = _code_positions(sql)
    for i in code:
        m = _ROUND_RE.match(sql, i)
        if not m:
            continue
        # the close paren matching ROUND's open paren: the first paren
        # after i is that open paren (only whitespace may precede it)
        depth, close = 0, len(sql)
        for j in code:
            depth += _PAREN_STEP.get(sql[j], 0)
            if depth == 0 and sql[j] == ")":
                close = j
                break
        # recurse so nested ROUNDs inside the call get wrapped too;
        # m.group() keeps "ROUND (" with its whitespace as written
        inner = neutralize_negative_zero(sql[m.end() : close])
        out += [sql[pos : m.start()], "(", m.group(), inner, ") + 0.0)"]
        pos = close + 1
    out.append(sql[pos:])
    return "".join(out)


# Modules that register queries on import.
_QUERY_MODULES = (
    "presto_cached_examples_spark.operators.scans",
    "presto_cached_examples_spark.operators.joins",
    "presto_cached_examples_spark.operators.aggregates",
    "presto_cached_examples_spark.operators.windows",
    "presto_cached_examples_spark.operators.setops",
    "presto_cached_examples_spark.operators.analytics",
    "presto_cached_examples_spark.operators.tpch_extra",
    "presto_cached_examples_spark.operators.distwindows",
    "presto_cached_examples_spark.operators.behavioral",
    "presto_cached_examples_spark.operators.graph",
    "presto_cached_examples_spark.llm.sampling",
    "presto_cached_examples_spark.operators.skew",
    "presto_cached_examples_spark.operators.scalars",
    "presto_cached_examples_spark.functions.udfs",
    "presto_cached_examples_spark.llm.text",
    "presto_cached_examples_spark.llm.dedup",
    "presto_cached_examples_spark.llm.similarity",
    "presto_cached_examples_spark.llm.multimodal",
    "presto_cached_examples_spark.llm.pipeline",
    "presto_cached_examples_spark.llm.urls",
    "presto_cached_examples_spark.streaming.windows",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    category: str


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False

# Verification rotation (round 16): the driver's correctness harness checks
# only the FIRST 50 queries in the order `queries()` yields them. Every
# registered query has a hard driver row (CORRECTNESS_r01-r15, zero reds
# since r4), so rotation is pure oldest-green-first refresh. This front =
# the 45 queries whose latest green driver row is round 11, plus the 5
# oldest round-12 greens, in registration order — after this round no
# query's last driver check is older than round 12 (VERDICT r15 item 6).
# Round-16 bonus: the front holds several r15-rewritten paths
# (q_text_fingerprint, q_text_langid, q_agg_percentiles_approx,
# q_ntile_spend, q_dedup_embed, q_drift_report), so the driver re-gates
# last round's rewrites with fresh rows.
# Everything outside the window is locally re-verified every round by
# tests/test_oracle_parity.py and tools/check_oracles.py, which hash raw
# float repr (driver-strength).
_VERIFY_FRONT: tuple[str, ...] = (
    # latest green driver row: round 11 (45) + oldest round-12 greens (5)
    "q_except",
    "q_agg_corr",
    "q_pivot",
    "q_unpivot",
    "q_window_firstlast",
    "q_string_regexp",
    "q_sessionize",
    "q_subquery_in",
    "q_subquery_corr",
    "q_agg_groupingid",
    "q_agg_argminmax",
    "q_date_series",
    "q_values_cte",
    "q_top_unshipped",
    "q_returned_revenue",
    "q_filtered_revenue",
    "q_promo_share",
    "q_agg_stringagg",
    "q_window_lead",
    "q_agg_decimal",
    "q_exists_agg",
    "q_null_ordering",
    "q_histogram",
    "q_cond_count",
    "q_agg_percentiles_approx",
    "q_window_dist_scalable",
    "q_sample_stratified",
    "q_join_salted",
    "q_string_funcs",
    "q_date_funcs",
    "q_math_funcs",
    "q_case_expr",
    "q_array_funcs",
    "q_subquery_scalar",
    "udf_pack_pen",
    "udaf_weighted_avg",
    "q_text_tokens",
    "q_text_langstats",
    "q_text_quality",
    "q_text_langid",
    "q_token_count",
    "q_text_fingerprint",
    "q_text_vocab",
    "q_sim_topk_kmeans",
    "q_dedup_embed",
    "q_snapshot_diff",
    "q_drift_report",
    "q_join_asof",
    "q_fuzzy_match",
    "q_ntile_spend",
)

DRIVER_WINDOW = 50  # how many leading queries the driver's harness checks

# Rotation queue for round 17: the remaining round-12 greens in
# registration order, then the 5 oldest round-13 greens (computed from
# CORRECTNESS_r01-r15; staleness histogram before this round:
# r11:45 r12:50 r13:50 r14:50 r15:50). All locally hash-verified every
# run regardless of driver-window position.
_VERIFY_NEXT: tuple[str, ...] = (
    # latest green driver row: round 12 (45) + oldest round-13 greens (5)
    "q_returns_wilson",
    "q_volume_shipping",
    "q_mkt_share",
    "q_cust_order_dist",
    "q_top_supplier",
    "q_small_qty_revenue",
    "q_big_orders",
    "q_disjunctive_revenue",
    "q_sole_return_supplier",
    "q_global_sales_opp",
    "q_min_cost_supplier",
    "q_important_stock",
    "q_shipmode_priority",
    "q_parts_supplier_count",
    "q_dominant_supplier",
    "q_window_range_scalable",
    "q_events_funnel",
    "q_retention_cohort",
    "q_events_rollup",
    "q_rfm_segments",
    "q_basket_rules",
    "q_sample_hash_topk",
    "q_json_funcs",
    "q_text_tfidf",
    "q_text_repetition",
    "q_dedup_exact",
    "q_dedup_ngram",
    "q_dedup_near",
    "q_sim_topk",
    "q_sim_topk_ivf",
    "q_ann_recall_sweep",
    "q_dedup_incremental_bloom",
    "q_dedup_span",
    "q_mm_meta",
    "q_mm_features",
    "q_mm_resize",
    "q_mm_frames",
    "q_chunk_docs",
    "q_pack_sequences",
    "q_decontam",
    "q_decontam_hashed",
    "q_text_normalize",
    "q_quality_dsir",
    "q_pii_scrub",
    "q_stream_tumbling",
    "q_scan_project",
    "q_filter_basic",
    "q_filter_like_null",
    "q_scan_pruned",
    "q_scan_evolved",
)


def register(name: str, oracle: str | None = None, category: str = "") -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query builder to the engine surface."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        neutralized = None
        if oracle is not None:
            neutralized = neutralize_negative_zero(oracle)
            # Loud-failure guard (ADVICE r5 item 1): the transform only
            # adds balanced "( ... + 0.0)" wrappers, so the net paren
            # balance outside literals/comments must be unchanged. A
            # mis-parse (e.g. a pathological literal) corrupts SQL here,
            # at registration, not at oracle-run time.
            if _paren_balance(neutralized) != _paren_balance(oracle):
                raise ValueError(
                    f"neutralize_negative_zero corrupted oracle for {name!r}: "
                    "paren balance changed"
                )
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=neutralized,
            category=category,
        )
        return fn

    return deco


def register_sql(name: str, oracle: str, category: str) -> None:
    """Register a query whose builder is its oracle: Spark SQL runs the
    same neutralized text DuckDB runs, over the fixture tables that
    ``catalog.register_all`` binds as session temp views.

    A query is SQL-only when Spark runs its oracle to the same answer
    with no more stages and at most 1% more shuffle bytes than a
    hand-written builder, and no builder technique is the point of the
    query (NOTES.md "Decisions with rationale")."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_all(spark, sf_dir)
        return spark.sql(_REGISTRY[name].oracle)

    register(name, oracle, category)(build)


def _ensure_loaded() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    """All registered queries, verification-rotation order.

    Names in ``_VERIFY_FRONT`` come first (in that order) so they fall
    inside the driver's first-``DRIVER_WINDOW`` correctness check; the
    rest follow in registration order.
    """
    _ensure_loaded()
    # ADVICE r14/r15 (low): a typo'd/stale rotation entry must fail
    # loudly, not silently shrink the driver's verification front while
    # the displaced query keeps its stale green row. Validate the staged
    # queue too (a stale _VERIFY_NEXT name would otherwise hide until
    # its promotion next round), and raise instead of assert so the
    # guard survives `python -O`.
    for label, cohort in (("_VERIFY_FRONT", _VERIFY_FRONT), ("_VERIFY_NEXT", _VERIFY_NEXT)):
        unknown = set(cohort) - set(_REGISTRY)
        if unknown:
            raise ValueError(f"{label} names not registered: {sorted(unknown)}")
    front = [n for n in _VERIFY_FRONT if n in _REGISTRY]
    rest = [n for n in _REGISTRY if n not in set(front)]
    return {n: _REGISTRY[n] for n in (*front, *rest)}


def queries() -> dict[str, QueryFn]:
    return {name: _plan_cached(spec) for name, spec in all_specs().items()}


def _plan_cached(spec: QuerySpec) -> QueryFn:
    """``spec.fn`` behind the session's plan cache (module docstring).

    The cached value is ``(session, plan)``: a plan is analyzed against
    one session's conf and temp views, so another session that shares
    the SparkContext (``newSession``) runs the builder instead."""
    name = (artifacts.PLAN, spec.name)

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        built: list[DataFrame] = []

        def analyze():
            built.append(_run_builder(spec, spark, sf_dir))
            plan = built[0]._jdf.queryExecution().analyzed()
            return spark, None if _holds_rdd(plan) else plan

        owner, plan = artifacts.memo(spark, sf_dir, name, analyze)
        if built:
            return built[0]
        if plan is None or owner is not spark:
            return _run_builder(spec, spark, sf_dir)
        return ClassicDataFrame(_of_rows(spark._jvm)(spark._jsparkSession, plan), spark)

    return build


def _run_builder(spec: QuerySpec, spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package_to_workers(spark)
    return spec.fn(spark, sf_dir)


@functools.cache
def _of_rows(jvm):
    """``org.apache.spark.sql.classic.Dataset.ofRows(session, plan)``: a
    Dataset with a new QueryExecution over an analyzed plan. Resolving
    the JVM member costs reflection round trips, so it is done once."""
    return jvm.org.apache.spark.sql.classic.Dataset.ofRows


def _holds_rdd(plan) -> bool:
    """Whether an analyzed plan, or any subquery in it, has a
    ``LogicalRDD`` leaf: a checkpoint or a frame over an RDD."""
    for tree in (plan, *_seq(plan.subqueriesAll())):
        if any(leaf.nodeName() == "LogicalRDD" for leaf in _seq(tree.collectLeaves())):
            return True
    return False


def _seq(seq) -> list:
    """A Scala ``Seq`` proxy's elements as a Python list."""
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
