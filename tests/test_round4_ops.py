"""Semantic and plan-shape checks for the round-4 operators:
boilerplate scrub, incremental dedup, product quantization, and
perceptual-hash dedup. Value-level oracle parity is covered for all of
them by tests/test_oracle_parity.py; these pin the properties the
oracle can't see (plan shapes, invariants, determinism).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import queries
from presto_cached_examples_spark.sources.catalog import load_table
from tests.conftest import SF_TINY
from tests.test_plans import build, plan_of


def test_boilerplate_scrub_removes_all_shared_lines(spark):
    """No line that occurs in >= 2 documents may survive in any
    clean_text, and untouched documents must round-trip verbatim."""
    from presto_cached_examples_spark.llm.pipeline import _BP_LINE_TOKENS

    out = {r.doc_id: r for r in queries()["q_boilerplate_scrub"](spark, SF_TINY).collect()}
    docs = {r.doc_id: r.text for r in load_table(spark, SF_TINY, "documents").collect()}

    def lines(text: str) -> list[str]:
        toks = text.split(" ")
        return [
            " ".join(toks[i : i + _BP_LINE_TOKENS])
            for i in range(0, len(toks), _BP_LINE_TOKENS)
        ]

    from collections import Counter

    freq = Counter()
    for text in docs.values():
        for line in set(lines(text)):
            freq[line] += 1
    boilerplate = {line for line, n in freq.items() if n >= 2}
    assert boilerplate, "fixture lost its shared lines — test is vacuous"

    touched = 0
    for doc_id, text in docs.items():
        row = out[doc_id]
        kept = [ln for ln in lines(text) if ln not in boilerplate]
        assert row.clean_text == " ".join(kept), f"doc {doc_id}"
        assert row.n_lines_removed == len(lines(text)) - len(kept)
        touched += row.n_lines_removed > 0
    assert touched > 0


def test_dedup_incremental_is_new_batch_minus_known_vocab(spark):
    """Survivors are exactly the new-batch docs whose vocabulary
    fingerprint is absent from the standing corpus."""
    from presto_cached_examples_spark.llm.dedup import _SNAP_MOD, _SNAP_NEW

    d = load_table(spark, SF_TINY, "documents").select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
        ).alias("fp"),
    )
    rows = d.collect()
    old = {r.fp for r in rows if r.doc_id % _SNAP_MOD < _SNAP_NEW}
    want = {r.doc_id for r in rows if r.doc_id % _SNAP_MOD >= _SNAP_NEW and r.fp not in old}
    got = {r.doc_id for r in queries()["q_dedup_incremental"](spark, SF_TINY).collect()}
    assert got == want
    n_new = sum(1 for r in rows if r.doc_id % _SNAP_MOD >= _SNAP_NEW)
    assert len(got) < n_new, "anti-join dropped nothing — vacuous fixture"


def test_sim_pq_codes_are_valid_and_deterministic(spark):
    """Every code id lies in [0, k); reconstruction error is
    non-negative; and a rebuild yields identical codes (no RNG)."""
    from presto_cached_examples_spark.llm.similarity import _PQ_K, _PQ_M

    rows = queries()["q_sim_pq"](spark, SF_TINY).collect()
    assert rows
    for r in rows:
        for m in range(_PQ_M):
            assert 0 <= r[f"code_{m}"] < _PQ_K
        assert r.recon_err >= 0.0
    again = build(spark, "q_sim_pq").collect()  # the builder, not a cached plan
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_sim_pq_encode_is_map_side(spark):
    """The PQ encode pass must be pure projection — no hash shuffle, no
    join: the codebooks enter as literals, so a 100 TB encode is one
    scan."""
    p = plan_of(build(spark, "q_sim_pq"), mode="simple")
    assert "Exchange hashpartitioning" not in p
    assert "Join" not in p


def test_sim_adc_distance_is_exact_to_reconstruction(spark):
    """The ADC identity: every emitted adc_dist must equal the exact
    squared L2 distance between the probe's raw vector and the decoded
    (codebook-reconstructed) candidate — table lookups may approximate
    the true neighbor, never the distance-to-reconstruction."""
    import numpy as np

    from presto_cached_examples_spark.llm.similarity import (
        _PQ_ITERS,
        _PQ_K,
        _PQ_M,
        _PQ_SUBDIM,
        _corpus,
        kmeans_centroids,
    )

    corpus = _corpus(spark, SF_TINY)
    books = []
    for m in range(_PQ_M):
        sub = corpus.select(
            "vec_id", F.slice(F.col("v"), m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("v")
        )
        books.append(np.array(kmeans_centroids(sub, k=_PQ_K, iters=_PQ_ITERS)))
    codes = {
        r.vec_id: [r[f"code_{m}"] for m in range(_PQ_M)]
        for r in queries()["q_sim_pq"](spark, SF_TINY).collect()
    }
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_TINY, "embeddings").collect()
    }
    for r in queries()["q_sim_adc"](spark, SF_TINY).collect():
        recon = np.concatenate([books[m][codes[r.vec_id][m]] for m in range(_PQ_M)])
        want = round(float(((vecs[r.probe_id] - recon) ** 2).sum()), 4)
        assert abs(r.adc_dist - want) <= 1e-4, (r.probe_id, r.vec_id)


def test_topk_skewed_equals_plain_topk(spark):
    """The two-level salted decomposition must reproduce the plain
    windowed top-k row-for-row (salting is shuffle layout, not
    semantics)."""
    from pyspark.sql import Window

    o = load_table(spark, SF_TINY, "orders").select(
        "o_orderstatus", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    plain = (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    )
    got = queries()["q_topk_skewed"](spark, SF_TINY).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, plain))


def test_topk_skewed_plans_salted_window_group_limit(spark):
    """Level 1 must rank within (key, salt) — the raw-row window spec
    carries the salt column and plans a WindowGroupLimit, so no reducer
    ever sorts a whole hot key."""
    import re

    p = plan_of(build(spark, "q_topk_skewed"), mode="simple")
    assert "WindowGroupLimit" in p
    specs = re.findall(r"windowspecdefinition\([^)]*\)", p)
    raw = [s for s in specs if "__salt" in s]
    assert raw, f"no salt-scoped window spec in: {specs}"


def test_mm_phash_clusters_are_consistent(spark):
    """canonical_id is the min doc of its hash group, is_dup marks
    non-canonical members, and collision groups exist (the perceptual
    key is intentionally coarse)."""
    rows = queries()["q_mm_phash"](spark, SF_TINY).collect()
    by_hash: dict[int, list] = {}
    for r in rows:
        by_hash.setdefault(r.dhash, []).append(r)
    assert any(len(g) > 1 for g in by_hash.values()), "no collisions — vacuous"
    for g in by_hash.values():
        canon = min(r.doc_id for r in g)
        for r in g:
            assert r.canonical_id == canon
            assert r.n_same == len(g)
            assert r.is_dup == (r.doc_id != canon)


def test_markov_probs_normalize_per_from_state(spark):
    """Outgoing transition probabilities must sum to ~1 per from_type,
    and every (from, to) pair must come from the fixture's event-type
    vocabulary."""
    rows = build(spark, "q_markov_transitions").collect()
    types = {
        r.event_type
        for r in load_table(spark, SF_TINY, "events").select("event_type").distinct().collect()
    }
    by_from: dict[str, float] = {}
    for r in rows:
        assert r.from_type in types and r.to_type in types
        assert r.n_transitions > 0
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.prob
    assert by_from, "no transitions found"
    for ft, total in by_from.items():
        # each prob is rounded to 4dp, so the sum can drift by #rows * 5e-5
        assert abs(total - 1.0) < 1e-2, (ft, total)


def test_anomaly_zscore_null_until_enough_history(spark):
    """The first 10 observed days must score NULL (insufficient
    priors), and any flagged day must carry |z| > 2."""
    rows = sorted(build(spark, "q_anomaly_zscore").collect(), key=lambda r: r.day)
    assert len(rows) > 12
    for r in rows[:10]:
        assert r.z_28 is None and r.is_anomaly is None, r
    for r in rows:
        if r.is_anomaly:
            assert abs(r.z_28) > 2, r
        elif r.is_anomaly is False:
            assert abs(r.z_28) <= 2.001, r


def test_ntile_deciles_are_balanced(spark):
    """NTILE(10) bucket sizes differ by at most 1, cover all customers
    with orders, and decile 1 holds the biggest spenders (monotone
    non-increasing min/max across deciles)."""
    rows = sorted(build(spark, "q_ntile_spend").collect(), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    sizes = [r.n_customers for r in rows]
    assert max(sizes) - min(sizes) <= 1
    n_cust = (
        load_table(spark, SF_TINY, "orders").select("o_custkey").distinct().count()
    )
    assert sum(sizes) == n_cust
    for a, b in zip(rows, rows[1:]):
        assert a.min_spend >= b.max_spend - 0.01, (a, b)


def test_unigram_lm_scores_rare_tokens_higher(spark):
    """A document whose tokens are all corpus-frequent must score
    lower surprisal than one holding the corpus's rarest tokens; and
    surprisal must be positive whenever any token has p < 1."""
    rows = {r.doc_id: r for r in build(spark, "q_text_unigram_lm").collect()}
    docs = load_table(spark, SF_TINY, "documents").count()
    assert len(rows) == docs
    assert all(r.surprisal > 0 for r in rows.values())
    # cross-check one doc by hand
    import collections
    import math

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF_TINY, "documents").select("doc_id", "text").collect()
    }
    vocab: collections.Counter = collections.Counter()
    for t in texts.values():
        vocab.update(tok for tok in t.split(" ") if tok)
    total = sum(vocab.values())
    doc_id = min(texts)
    toks = [tok for tok in texts[doc_id].split(" ") if tok]
    expect = sum(-math.log(vocab[t] / total) for t in toks) / len(toks)
    assert abs(rows[doc_id].surprisal - round(expect, 4)) < 2e-4


def test_mix_weights_allocates_full_budget(spark):
    """Target tokens across sources must sum to the budget (within the
    per-source floor loss), shares to ~1, and every epoch count must be
    ceil(rate)."""
    import math

    from presto_cached_examples_spark.llm.pipeline import _MIX_TOKEN_BUDGET

    rows = build(spark, "q_mix_weights").collect()
    assert {r.source for r in rows} == {f"src{i}" for i in range(20)}
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-2
    total_target = sum(r.target_tokens for r in rows)
    assert _MIX_TOKEN_BUDGET - len(rows) <= total_target <= _MIX_TOKEN_BUDGET
    for r in rows:
        assert r.n_epochs == math.ceil(round(r.target_tokens / r.n_tokens, 6)) or (
            r.n_epochs - r.target_tokens / r.n_tokens < 1
        )
        assert r.tier_weight in (1, 2, 3)


def test_event_runs_partition_the_stream(spark):
    """Run rows must tile each user's event stream exactly: event
    counts sum to the user's events, runs never overlap in time, and
    adjacent runs always change event_type."""
    rows = build(spark, "q_event_runs").collect()
    ev_per_user: dict[int, int] = {}
    for r in load_table(spark, SF_TINY, "events").groupBy("user_id").count().collect():
        ev_per_user[r.user_id] = r["count"]
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(ev_per_user)
    for uid, runs in by_user.items():
        runs.sort(key=lambda r: r.run_no)
        assert sum(r.n_events for r in runs) == ev_per_user[uid]
        assert [r.run_no for r in runs] == list(range(1, len(runs) + 1))
        for a, b in zip(runs, runs[1:]):
            assert a.run_end <= b.run_start
            assert a.event_type != b.event_type


def test_embed_centroids_cosines_are_bounded(spark):
    """Centroid norms must sit in (0, 1] for unit-vector members, every
    cosine stat in [-1, 1], and avg_cos >= min_cos per label."""
    rows = build(spark, "q_embed_centroids").collect()
    assert len(rows) == 10
    n_total = 0
    for r in rows:
        assert 0 < r.centroid_norm <= 1.0001
        assert -1.0001 <= r.min_cos <= r.avg_cos <= 1.0001
        n_total += r.n_vecs
    from presto_cached_examples_spark.llm.similarity import _corpus

    assert n_total == _corpus(spark, SF_TINY).count()


def test_resample_emits_quarter_grid_between_adjacent_days(spark):
    """Every adjacent day pair contributes 4 grid points whose values
    walk linearly from one day's revenue toward the next; gap days and
    the final day emit exactly one point."""
    rows = sorted(build(spark, "q_resample_interp").collect(), key=lambda r: r.ts)
    days = {}
    for r in rows:
        d = r.ts.date()
        days.setdefault(d, []).append(r)
    for d, pts in days.items():
        assert len(pts) in (1, 4), (d, len(pts))
        if len(pts) == 4:
            vals = [p.revenue_interp for p in pts]
            steps = [round(b - a, 4) for a, b in zip(vals, vals[1:])]
            assert max(steps) - min(steps) < 2e-4, (d, steps)  # equal spacing


def test_quality_logistic_matches_hand_sigmoid(spark):
    """Spot-check one document's score against a hand computation and
    pin the keep threshold semantics."""
    import math

    from presto_cached_examples_spark.llm.text import _QW, _STOPWORDS

    rows = {r.doc_id: r for r in build(spark, "q_quality_logistic").collect()}
    doc = (
        load_table(spark, SF_TINY, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .first()
    )
    toks = doc.text.split(" ")
    logit = (
        _QW["bias"]
        + _QW["distinct_ratio"] * len(set(toks)) / len(toks)
        + _QW["stopword_ratio"] * sum(t in _STOPWORDS for t in toks) / len(toks)
        + _QW["log_tokens"] * math.log(len(toks))
    )
    expect = 1.0 / (1.0 + math.exp(-logit))
    got = rows[doc.doc_id]
    assert abs(got.quality_score - round(expect, 4)) < 2e-4
    assert got.keep == (expect > 0.5)


def test_join_bloom_prefilter_is_lossless_and_selective(spark):
    """The Bloom stage must pass every true match (no false negatives
    — guaranteed by construction, asserted here against the exact semi
    join) and prune most non-matching lineitems at fixture scale."""
    from presto_cached_examples_spark.operators.joins import _BLOOM_PRICE

    li = load_table(spark, SF_TINY, "lineitem")
    o = load_table(spark, SF_TINY, "orders").filter(F.col("o_totalprice") > _BLOOM_PRICE)
    exact = li.join(
        o, li.l_orderkey == o.o_orderkey, "left_semi"
    ).count()
    result = build(spark, "q_join_bloom").collect()
    assert sum(r.n_lineitems for r in result) == exact
    # the plan must show the map-side bit test BEFORE the exact semi join
    plan = plan_of(build(spark, "q_join_bloom"))
    assert "shiftleft" in plan and "LeftSemi" in plan


def test_scan_pruned_plan_prunes_partitions(spark):
    """The physical plan must carry the day range as PartitionFilters
    on a 7-directory file index — the scan never lists days outside
    the window — and prune ReadSchema to the referenced columns."""
    df = build(spark, "q_scan_pruned")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "day" in plan.split("PartitionFilters:")[1][:120]
    assert "InMemoryFileIndex(7 paths)" in plan
    assert "text" not in plan.split("ReadSchema:")[1][:200]


def test_curation_funnel_stages_are_monotone_and_nonvacuous(spark):
    """Each stage must keep a subset of the previous stage, and every
    stage must actually drop documents on the fixtures (the funnel is
    only a useful report if no stage is vacuous)."""
    rows = sorted(build(spark, "q_curation_funnel").collect(), key=lambda r: r.stage_no)
    assert [r.stage for r in rows] == ["raw", "lang_en", "quality", "dedup"]
    counts = [r.n_docs for r in rows]
    assert all(a > b for a, b in zip(counts, counts[1:])), counts
    assert rows[0].frac_of_raw == 1.0


def test_pagerank_mass_conserved_and_degree_correlated(spark):
    """Total rank must sum to ~1 (no dangling nodes in the symmetric
    graph), every rank must exceed the teleport floor, and the
    top-ranked node must have above-median degree."""
    rows = build(spark, "q_graph_pagerank").collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    n = len(rows)
    floor = (1.0 - 0.85) / n
    assert all(r.rank >= floor - 1e-9 for r in rows)
    top = max(rows, key=lambda r: r.rank)
    degrees = sorted(r.n_neighbors for r in rows)
    assert top.n_neighbors >= degrees[len(degrees) // 2]


def test_range_bucketed_matches_bnlj_twin_and_avoids_bnlj(spark):
    """The bucketed rewrite must return row-for-row what q_join_range
    returns, with no BroadcastNestedLoopJoin in its plan."""
    a = {r.c_custkey: r for r in build(spark, "q_join_range").collect()}
    b = {r.c_custkey: r for r in build(spark, "q_join_range_bucketed").collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert (a[k].n_in_band, a[k].band_total) == (b[k].n_in_band, b[k].band_total)
    plan = plan_of(build(spark, "q_join_range_bucketed"))
    assert "BroadcastNestedLoopJoin" not in plan


def test_stream_topk_plans_window_group_limit(spark):
    """Per-window ranks must be 1..2 with counts non-increasing, and
    the plan must prune via WindowGroupLimit instead of fully sorting
    every window partition."""
    rows = build(spark, "q_stream_topk").collect()
    by_ws: dict = {}
    for r in rows:
        by_ws.setdefault(r.ws, []).append(r)
    for ws, rs in by_ws.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert all(a.n >= b.n for a, b in zip(rs, rs[1:]))
    assert "WindowGroupLimit" in plan_of(build(spark, "q_stream_topk"))


def test_scan_evolved_nullfills_old_snapshot(spark):
    """The merged relation must carry the new column as NULL for every
    pre-cutoff file and populated for every post-cutoff row."""
    from presto_cached_examples_spark.operators.scans import (
        _EVOLVE_CUTOFF,
        _evolved_snapshots,
    )

    p1, p2 = _evolved_snapshots(spark, SF_TINY)
    merged = spark.read.option("mergeSchema", "true").parquet(p1, p2)
    o = load_table(spark, SF_TINY, "orders")
    n_old = o.filter(F.col("o_orderdate") < F.lit(_EVOLVE_CUTOFF).cast("timestamp")).count()
    n_new = o.count() - n_old
    assert merged.filter(F.col("o_orderpriority").isNull()).count() == n_old
    assert merged.filter(F.col("o_orderpriority").isNotNull()).count() == n_new
    assert merged.count() == o.count()


# --- session-4 operators: invariants the oracle can't see ------------


def test_cdc_merge_drops_tombstoned_users_only(spark):
    """Every user whose LAST change is a tombstone ('error') must be
    absent from the snapshot; every other user present exactly once
    with their latest non-filtered state."""
    ev = load_table(spark, SF_TINY, "events").collect()
    last = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        last[r.user_id] = r
    expected = {u: r for u, r in last.items() if r.event_type != "error"}
    got = {r.user_id: r for r in queries()["q_cdc_merge"](spark, SF_TINY).collect()}
    assert set(got) == set(expected)
    for u, row in got.items():
        assert row.last_op == expected[u].event_type
        assert row.updated_at == expected[u].ts


def test_attribution_conserves_purchase_value(spark):
    """Linear attribution must conserve value: the sum of attributed
    value across touch types equals the total value of purchases that
    HAVE at least one in-window touch (each purchase splits 1/n over
    its n touches, so its full value is distributed, never created)."""
    rows = queries()["q_attribution_linear"](spark, SF_TINY).collect()
    attributed = sum(r.attributed_value for r in rows)
    # reconstruct ground truth: purchases with >= 1 touch in-window
    ev = load_table(spark, SF_TINY, "events").collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    total = 0.0
    for rs in by_user.values():
        clicks = [r.ts for r in rs if r.event_type in ("click", "view")]
        for p in rs:
            if p.event_type != "purchase":
                continue
            from datetime import timedelta

            lo = p.ts - timedelta(days=7)
            if any(lo <= t < p.ts for t in clicks):
                total += p.value
    assert abs(attributed - total) < 0.05, (attributed, total)


def test_winsorized_mean_is_pulled_inward(spark):
    """Clamping to [P05, P95] can only pull the mean toward the
    median band: avg_winsorized must lie within [p05, p95] and the
    clamp thresholds must bracket correctly (p05 <= p95)."""
    for r in queries()["q_winsorize"](spark, SF_TINY).collect():
        assert r.p05 <= r.p95
        assert r.p05 <= r.avg_winsorized <= r.p95


def test_sq8_codes_in_range_and_error_bounded(spark):
    """SQ8 codes are 64 bytes in [0, 255] (code_sum bounds) and the
    reconstruction error is bounded by dims * step^2 with
    step = (max-min)/255 <= corpus range."""
    rows = queries()["q_embed_sq8"](spark, SF_TINY).collect()
    assert rows
    for r in rows:
        assert 0 <= r.code_sum <= 255 * 64
        assert 0.0 <= r.sq_err < 1.0  # unit-scale embeddings, tiny steps


def test_triangles_match_bruteforce_on_edges(spark):
    """Per-node triangle counts must equal a brute-force count over
    the same co-purchase edge list."""
    from itertools import combinations

    from presto_cached_examples_spark.operators.graph import copurchase_pairs

    edges = {(r.pa, r.pb) for r in copurchase_pairs(spark, SF_TINY).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri_count = dict.fromkeys(adj, 0)
    for n, nbrs in adj.items():
        for u, v in combinations(sorted(nbrs), 2):
            if (min(u, v), max(u, v)) in edges:
                tri_count[n] += 1
    # each triangle counted once per apex node above
    got = {
        r.part_key: r.n_triangles
        for r in queries()["q_graph_triangles"](spark, SF_TINY).collect()
    }
    assert got == {n: c for n, c in tri_count.items()}


def test_scd2_intervals_tile_each_user_history(spark):
    """SCD2 validity intervals must tile: versions are 1..n in ts
    order, each valid_to equals the next valid_from, exactly one open
    (current) row per user."""
    rows = queries()["q_cdc_scd2"](spark, SF_TINY).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        assert sum(1 for r in rs if r.is_current) == 1
        assert rs[-1].is_current and rs[-1].valid_to is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from


def test_temperature_flattens_shares(spark):
    """alpha < 1 must compress the share distribution: every
    below-average language is upsampled (factor > 1), every
    above-average one downsampled, and temp shares still sum to 1."""
    rows = queries()["q_mix_temperature"](spark, SF_TINY).collect()
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 0.01
    mean_share = 1.0 / len(rows)
    for r in rows:
        if r.raw_share < mean_share * 0.8:
            assert r.upsample_factor > 1.0, r
        if r.raw_share > mean_share * 1.2:
            assert r.upsample_factor < 1.0, r
