"""Round-16 optimization pins.

Same contract as tests/test_round15_opt.py: each rewrite this round
promises bit-identical values, the oracle gate proves it end-to-end,
and these tests pin the internal equivalences the rewrites lean on so a
future refactor fails HERE with a named invariant instead of as an
opaque oracle hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_TINY


def _clear_lm_caches(spark):
    from presto_cached_examples_spark.plans import artifacts

    artifacts.forget(spark, SF_TINY, "bigram_counts")
    artifacts.forget(spark, SF_TINY, "surprisal")


def test_bigram_model_builder_invariance(spark):
    """The session-shared (w1, w2, n_big) model table must be identical
    whichever consumer builds it: the direct corpus aggregate (cold
    q_text_kn_bigram) and the doc-grain rollup (cold _doc_surprisal /
    q_text_bigram_lm) aggregate the same multiset of corpus bigrams."""
    from presto_cached_examples_spark.llm.text import bigram_structs
    from presto_cached_examples_spark.sources.catalog import load_table

    d = load_table(spark, SF_TINY, "documents")
    grams = d.select(
        "doc_id", F.explode(bigram_structs(F.split("text", " "))).alias("bg")
    ).select("doc_id", "bg.w1", "bg.w2")
    direct = (
        grams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_big"))
        .orderBy("w1", "w2")
        .collect()
    )
    rollup = (
        grams.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("w1", "w2")
        .agg(F.sum("k").alias("n_big"))
        .orderBy("w1", "w2")
        .collect()
    )
    assert direct, "fixture produced no bigrams"
    assert direct == rollup


def test_bigram_memo_population_order_irrelevant(spark):
    """q_text_kn_bigram's result must not depend on WHICH family member
    populated the shared model cache: cold-self-built vs warmed by
    q_quality_ppl_filter's doc-grain rollup must match row for row."""
    from presto_cached_examples_spark.registry import all_specs

    specs = all_specs()
    kn = specs["q_text_kn_bigram"].fn
    ppl = specs["q_quality_ppl_filter"].fn

    _clear_lm_caches(spark)
    cold = kn(spark, SF_TINY).collect()

    _clear_lm_caches(spark)
    ppl(spark, SF_TINY).collect()  # populates via the rollup derivation
    warmed = kn(spark, SF_TINY).collect()

    _clear_lm_caches(spark)
    assert cold, "kn_bigram returned no rows"
    assert cold == warmed


def test_surprisal_memo_values_invariant(spark):
    """q_quality_ensemble's per-source report must be identical with a
    cold cache (builds the scoring pipeline itself) and when reusing
    the surprisal relation q_quality_ppl_filter materialized."""
    from presto_cached_examples_spark.registry import all_specs

    specs = all_specs()
    ens = specs["q_quality_ensemble"].fn
    ppl = specs["q_quality_ppl_filter"].fn

    def key(rows):
        return sorted(rows, key=lambda r: r.source)

    _clear_lm_caches(spark)
    cold = key(ens(spark, SF_TINY).collect())

    _clear_lm_caches(spark)
    ppl(spark, SF_TINY).collect()  # materializes + memoizes surp
    warmed = key(ens(spark, SF_TINY).collect())

    _clear_lm_caches(spark)
    assert cold, "ensemble returned no rows"
    assert cold == warmed


def test_basket_rules_direction_explode_matches_union(spark):
    """q_basket_rules round 16: emitting both rule directions by
    exploding a 2-struct array from ONE aggregated pair row must
    produce the same multiset as the old unionAll(pair, swapped)."""
    from presto_cached_examples_spark.sources.catalog import load_table

    li = load_table(spark, SF_TINY, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    ps = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pair = (
        ps.select(F.explode(pair_arr).alias("pr"))
        .select("pr.pa", "pr.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("nab"))
        .filter(F.col("nab") >= 2)
    )
    old = pair.select(
        F.col("pa").alias("a"), F.col("pb").alias("c"), "nab"
    ).unionAll(
        pair.select(F.col("pb").alias("a"), F.col("pa").alias("c"), "nab")
    )
    new = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("a"), F.col("pb").alias("c"), F.col("nab")
                ),
                F.struct(
                    F.col("pb").alias("a"), F.col("pa").alias("c"), F.col("nab")
                ),
            )
        ).alias("r")
    ).select("r.a", "r.c", "r.nab")
    k = lambda r: (r.a, r.c, r.nab)  # noqa: E731
    old_rows = sorted(old.collect(), key=k)
    new_rows = sorted(new.collect(), key=k)
    assert old_rows, "fixture produced no qualifying pairs"
    assert old_rows == new_rows
