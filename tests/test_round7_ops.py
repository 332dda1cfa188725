"""Round-7 checks: warm-build laziness of the learned-quantizer
queries (VERDICT r6 item 4), Bloom filter self-sizing (ADVICE r6 item
1), and the anchored stale-sibling reaper (ADVICE r6 item 3).
"""

from __future__ import annotations

import os

from tests.conftest import SF_TINY
from tests.test_plans import build
from tests.util import jobs_during


def test_codebook_queries_build_without_jobs_when_warm(spark):
    """Plan construction for the learned-quantizer family, and for every
    other query whose session artifacts make it job-free, must trigger
    ZERO Spark jobs once the session-artifact store is warm — the
    quantizer is an ingest-time artifact, and a caller that
    builds-but-doesn't-run (explain, plan audit, registration sweeps)
    must not pay training jobs on every build. The first build per
    (session, sf) is allowed to train (that's the documented
    build-time-action contract); every later build must be pure plan
    assembly."""
    warm = (
        "q_sim_topk_kmeans",
        "q_sim_pq",
        "q_sim_adc",
        "q_ann_pipeline",
        "q_ann_recall_sweep",
        "q_dedup_embed",
        "q_dedup_incremental_bloom",  # memoized standing-corpus count
        "q_embed_power_topvec",  # memoized power-iteration component
        "q_sample_kcenter",  # memoized greedy selection
        "q_curation_pipeline",  # memoized range-split points
        "q_cluster_purity",  # assigns cells from the memoized codebook
        "q_dedup_embed_sweep",  # memoized scored candidate pairs
        "q_mix_schedule",  # memoized vtime split points (ADVICE r7 item 2)
        # other session-artifact consumers
        "q_events_rollup",  # persisted hourly tier
        "q_text_pmi",  # checkpointed count tables
        "q_text_kn_bigram",  # shared bigram model
        "q_text_bigram_lm",
        "q_quality_ppl_filter",  # shared surprisal relation
        "q_quality_ensemble",
        "q_graph_pagerank",  # checkpointed co-purchase edges
        "q_graph_triangles",
        "q_graph_degree_stats",
        "q_graph_khop",
        "q_graph_components",  # memoized labels and degrees beside the edges
        "q_dedup_near",  # memoized near-dup clusters (driver data)
        "q_ntile_spend",  # memoized lazy checkpoint with its split points
        "q_rfm_segments",  # memoized lazy checkpoint with its split points
        "q_scan_json",  # documents landed once per session
    )
    # Warm every artifact (codebooks, bloom count, ...) — may run jobs.
    for name in warm:
        build(spark, name)

    ran = jobs_during(spark, lambda: [build(spark, name) for name in warm])
    assert ran == [], f"warm plan-build ran Spark jobs: {ran}"


def test_bloom_bits_scale_with_corpus():
    """_bloom_bits keeps >= ~16 bits/key (so the advertised pruning
    survives corpus growth instead of saturating at ~15-20k keys),
    floors at the fixture-tuned 65536, and stays a power of two."""
    from presto_cached_examples_spark.llm.dedup import (
        _FP_BLOOM_BITS_FLOOR,
        _FP_BLOOM_BITS_PER_KEY,
        _bloom_bits,
    )

    assert _bloom_bits(0) == _FP_BLOOM_BITS_FLOOR
    assert _bloom_bits(1000) == _FP_BLOOM_BITS_FLOOR
    for n in (20_000, 1_000_000, 123_456_789):
        bits = _bloom_bits(n)
        assert bits >= _FP_BLOOM_BITS_PER_KEY * n
        assert bits & (bits - 1) == 0, "not a power of two"
    # monotone
    assert _bloom_bits(10**6) <= _bloom_bits(10**7)


def test_dedup_incremental_bloom_matches_plain_anti_join(spark):
    """Self-sized Bloom prefilter must stay bit-identical to the plain
    anti-join (no false negatives), independent of the sizing change."""
    from presto_cached_examples_spark.registry import queries

    plain = {
        tuple(r) for r in queries()["q_dedup_incremental"](spark, SF_TINY).collect()
    }
    bloom = {
        tuple(r)
        for r in queries()["q_dedup_incremental_bloom"](spark, SF_TINY).collect()
    }
    assert {t[0] for t in plain} == {t[0] for t in bloom}


def test_reaper_is_anchored_to_fingerprint_token(tmp_path):
    """_reap_stale_siblings must only remove dirs whose name is exactly
    prefix + one <mtime_hex>_<size_hex> fingerprint token — a sibling
    fixture whose sftag EXTENDS this one (sf0_1 vs sf0_1_bak) must
    survive (ADVICE r6 item 3)."""
    from presto_cached_examples_spark.operators.scans import _reap_stale_siblings

    wh = str(tmp_path)
    keep = os.path.join(wh, "evolved_orders_sf0_1_aaaa_bbbb")
    stale = os.path.join(wh, "evolved_orders_sf0_1_1234_cafe")
    other_fixture = os.path.join(wh, "evolved_orders_sf0_1_bak_1234_cafe")
    unrelated = os.path.join(wh, "evolved_orders_sf0_1_notes")
    for d in (keep, stale, other_fixture, unrelated):
        os.makedirs(d)
    os.utime(stale, (1, 1))  # age past the r14 in-flight-reader gate
    _reap_stale_siblings(wh, "evolved_orders_sf0_1_", keep)
    assert os.path.exists(keep)
    assert not os.path.exists(stale), "true stale sibling must be reaped"
    assert os.path.exists(other_fixture), "other fixture's artifacts reaped"
    assert os.path.exists(unrelated), "non-fingerprint dir reaped"


# ---------------------------------------------------------------------------
# Round-7 operators — behavior pins beyond the oracle hash
# ---------------------------------------------------------------------------


def test_scrub_dup_spans_removes_exactly_covered_tokens(spark):
    """Python reference replay: every token covered by a corpus-
    duplicated 5-gram is removed, every other token survives in order,
    and short docs pass through verbatim."""
    from presto_cached_examples_spark.llm.pipeline import _SPAN_SCRUB_N
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF_TINY, "documents").collect()
    }
    n = _SPAN_SCRUB_N
    df: dict[str, set] = {}
    for did, toks in docs.items():
        for i in range(len(toks) - n + 1):
            df.setdefault(" ".join(toks[i : i + n]), set()).add(did)
    dup = {g for g, ids in df.items() if len(ids) >= 2}
    out = {r.doc_id: r for r in queries()["q_scrub_dup_spans"](spark, SF_TINY).collect()}
    assert set(out) == set(docs)
    any_removed = False
    for did, toks in docs.items():
        covered = set()
        for i in range(len(toks) - n + 1):
            if " ".join(toks[i : i + n]) in dup:
                covered.update(range(i, i + n))
        keep = [t for j, t in enumerate(toks) if j not in covered]
        r = out[did]
        assert r.n_tokens == len(toks)
        assert r.n_removed == len(covered), did
        assert r.clean_text == " ".join(keep), did
        any_removed = any_removed or bool(covered)
    assert any_removed, "no doc had a duplicated span — vacuous fixture"


def test_bpe_pair_stats_top_pair_matches_reference(spark):
    """Python BPE-trainer replay of the weighted pair counts; the
    engine's top row must be the true argmax and counts must match."""
    from collections import Counter

    from presto_cached_examples_spark.llm.text import _EOW
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    wc = Counter()
    for r in load_table(spark, SF_TINY, "documents").collect():
        for w in r.text.split(" "):
            if w:
                wc[w] += 1
    pc = Counter()
    for w, cnt in wc.items():
        syms = list(w) + [_EOW]
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += cnt
    rows = queries()["q_bpe_pair_stats"](spark, SF_TINY).collect()
    assert len(rows) == 20
    # engine ties break (lhs, rhs) asc — recompute argmax that way
    top_count = max(pc.values())
    want_top = min(k for k, v in pc.items() if v == top_count)
    assert (rows[0].lhs, rows[0].rhs) == want_top
    for r in rows:
        assert pc[(r.lhs, r.rhs)] == r.pair_count
    # descending, deterministic ordering
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_vocab_coverage_bounds_and_consistency(spark):
    """coverage_bp + oov_bp == 10000 (each independently floored, so
    allow 1 bp of slack), n_covered <= n_tokens, and the corpus-wide
    coverage of a 256-token vocab must be non-trivial."""
    from presto_cached_examples_spark.registry import queries

    rows = queries()["q_vocab_coverage"](spark, SF_TINY).collect()
    assert rows
    tot = cov = 0
    for r in rows:
        assert 0 <= r.n_covered <= r.n_tokens
        assert abs((r.coverage_bp + r.oov_bp) - 10000) <= 1
        tot += r.n_tokens
        cov += r.n_covered
    assert cov / tot > 0.5, "top-256 vocab covers <50% — fixture drift?"


def test_mix_schedule_is_a_permutation_and_interleaves(spark):
    """Positions are exactly 1..N once each; within every source the
    md5 order is respected; and in any prefix each source's share
    tracks its sqrt-weight (stride-scheduling bound: every source
    appears in the first ceil(2 * total_weight / w_s) positions)."""
    import hashlib
    import math as m

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    rows = sorted(
        queries()["q_mix_schedule"](spark, SF_TINY).collect(), key=lambda r: r.pos
    )
    n = len(rows)
    assert [r.pos for r in rows] == list(range(1, n + 1))
    docs = load_table(spark, SF_TINY, "documents").collect()
    assert n == len(docs)
    from collections import Counter

    src_n = Counter(r.source for r in docs)
    # per-source emit order must follow md5(doc_id)
    per_src: dict[str, list] = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r.doc_id)
    for s, ids in per_src.items():
        want = sorted(
            ids, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
        )
        assert ids == want, s
    # stride bound: source s's first emission is at vtime 0.5/sqrt(n_s);
    # every other source emits at most ceil(vtime * sqrt(n_t)) docs first
    first_pos = {}
    for r in rows:
        first_pos.setdefault(r.source, r.pos)
    for s, np_ in src_n.items():
        vt = 0.5 / m.sqrt(np_)
        bound = 1 + sum(
            min(int(vt * m.sqrt(nt) + 0.5) + 1, nt) for t, nt in src_n.items() if t != s
        )
        assert first_pos[s] <= bound, (s, first_pos[s], bound)


def test_embed_power_topvec_properties(spark):
    """Infinity-norm scaling (max |loading| == 1), eigval positive and
    no larger than total variance, and the component is a better
    variance direction than any single axis (it dominates the max
    per-dim variance)."""
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    import numpy as np

    rows = sorted(
        queries()["q_embed_power_topvec"](spark, SF_TINY).collect(),
        key=lambda r: r.dim,
    )
    loadings = np.array([r.loading for r in rows])
    assert abs(np.abs(loadings).max() - 1.0) < 1e-9
    eig = rows[0].eigval
    assert all(r.eigval == eig for r in rows)
    X = np.array(
        [r.embedding for r in load_table(spark, SF_TINY, "embeddings").collect()],
        dtype=np.float64,
    )
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / (len(X) - 1)
    # rayleigh quotient of the reported (unnormalized) vector
    want = float(loadings @ cov @ loadings / (loadings @ loadings))
    assert abs(eig - want) < 5e-3
    assert eig > 0
    # vs numpy's true top eigenvalue: power iteration with 4 steps on
    # near-isotropic data needn't converge tightly; just sanity-bound it
    top = float(np.linalg.eigvalsh(cov)[-1])
    assert eig <= top + 1e-6
    assert eig >= 0.5 * cov.diagonal().max()


def test_kn_bigram_probabilities_are_valid(spark):
    """p_kn in (0, 1]; the discounted-ML term never exceeds raw ML; and
    a Python replay of the KN formula matches every reported row."""
    from collections import Counter

    from presto_cached_examples_spark.llm.text import _KN_D
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    big = Counter()
    for r in load_table(spark, SF_TINY, "documents").collect():
        t = r.text.split(" ")
        for a, b in zip(t, t[1:]):
            big[(a, b)] += 1
    c1 = Counter()
    n1fwd = Counter()
    n1back = Counter()
    for (a, b), c in big.items():
        c1[a] += c
        n1fwd[a] += 1
        n1back[b] += 1
    T = len(big)
    rows = queries()["q_text_kn_bigram"](spark, SF_TINY).collect()
    assert len(rows) == 50
    for r in rows:
        want = (
            max(big[(r.w1, r.w2)] - _KN_D, 0) / c1[r.w1]
            + (_KN_D * n1fwd[r.w1] / c1[r.w1]) * (n1back[r.w2] / T)
        )
        assert abs(r.p_kn - round(want, 6)) <= 1e-9, (r.w1, r.w2)
        assert 0 < r.p_kn <= 1
        assert r.c12 == big[(r.w1, r.w2)]


def test_ppl_filter_cuts_only_the_high_tail(spark):
    """Retention must be < 1 somewhere (the cut bites) and total kept
    docs must equal docs minus those above the mean+sigma threshold."""
    from presto_cached_examples_spark.registry import queries

    rows = queries()["q_quality_ppl_filter"](spark, SF_TINY).collect()
    assert rows
    n = sum(r.n_docs for r in rows)
    kept = sum(r.n_kept for r in rows)
    assert 0 < kept <= n
    assert kept < n, "threshold cut nothing — vacuous"
    assert kept / n > 0.6, "a mean+1sigma cut should keep the bulk"
    for r in rows:
        assert 0 <= r.n_kept <= r.n_docs


def test_count_dp_noise_is_laplace_and_seeded(spark):
    """dp_count differs from the true count (noise applied), noise
    magnitude is plausible for b=1, and a rerun is identical."""
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    rows = {r.source: r.dp_count for r in queries()["q_count_dp"](spark, SF_TINY).collect()}
    again = {r.source: r.dp_count for r in queries()["q_count_dp"](spark, SF_TINY).collect()}
    assert rows == again
    true = {
        r.source: r.n
        for r in load_table(spark, SF_TINY, "documents")
        .groupBy("source")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert set(rows) == set(true)
    noises = [rows[s] - true[s] for s in true]
    assert any(abs(x) > 1e-3 for x in noises)
    # Laplace(1): P(|X| > 12) ~ 6e-6 — 20 sources should all be inside
    assert all(abs(x) < 12 for x in noises)


def test_dataset_card_reconciles_with_raw_table(spark):
    """Volume metrics must reconcile against direct recomputation and
    the dominant language must really dominate."""
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    docs = load_table(spark, SF_TINY, "documents").collect()
    by_src: dict[str, list] = {}
    for r in docs:
        by_src.setdefault(r.source, []).append(r)
    rows = {r.source: r for r in queries()["q_dataset_card"](spark, SF_TINY).collect()}
    assert set(rows) == set(by_src)
    for s, rs in by_src.items():
        card = rows[s]
        assert card.n_docs == len(rs)
        assert card.n_tokens == sum(len(r.text.split(" ")) for r in rs)
        from collections import Counter

        langs = Counter(r.lang for r in rs)
        top = min((l for l, c in langs.items() if c == max(langs.values())))
        assert card.top_lang == top
        assert card.n_langs == len(langs)
        assert 0 <= card.exact_dup_rate < 1


def test_wav_decode_roundtrip_real_riff():
    """_decode_wav must parse genuine RIFF containers: an 8-bit mono
    file round-trips the exact centered samples, and a 16-bit stereo
    file decodes with the right rate/channels/width and sample values."""
    import io
    import wave

    import numpy as np

    from presto_cached_examples_spark.llm.multimodal import _decode_wav

    # 8-bit mono
    raw = bytes(range(0, 200, 3))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(raw)
    rate, nch, width, samples = _decode_wav(buf.getvalue())
    assert (rate, nch, width) == (8000, 1, 1)
    assert samples.tolist() == [b - 128 for b in raw]

    # 16-bit stereo
    sig = np.array([-32768, -1, 0, 1, 32767, 12345], dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(sig.tobytes())
    rate, nch, width, samples = _decode_wav(buf.getvalue())
    assert (rate, nch, width) == (44100, 2, 2)
    assert samples.tolist() == sig.tolist()


def test_mm_audio_stats_reconciles_with_text_bytes(spark):
    """The WAV payloads are real containers wrapping the doc's bytes:
    stats must reconcile with a direct byte-level recomputation, and
    the payload itself must start with a RIFF header."""
    import math

    from presto_cached_examples_spark.llm.multimodal import _WAV_RATE, audio_table
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    texts = {
        r.doc_id: r.text.encode() for r in load_table(spark, SF_TINY, "documents").collect()
    }
    pay = {r.doc_id: bytes(r.payload) for r in audio_table(spark, SF_TINY).take(5)}
    for did, p in pay.items():
        assert p[:4] == b"RIFF" and p[8:12] == b"WAVE"
        assert texts[did] in p  # PCM data block carries the doc bytes
    rows = {r.doc_id: r for r in queries()["q_mm_audio_stats"](spark, SF_TINY).collect()}
    assert set(rows) == set(texts)
    for did, b in texts.items():
        r = rows[did]
        assert r.sample_rate == _WAV_RATE and r.n_channels == 1
        assert r.n_samples == len(b)
        cent = [x - 128 for x in b]
        want_rms = math.sqrt(sum(x * x for x in cent) / len(cent))
        assert abs(r.rms - want_rms) < 1e-3
        assert r.peak == max(abs(x) for x in cent)


def test_mp4_box_parser_is_genuine():
    """_decode_mp4_meta must parse real ISO-BMFF structure: v0 and v1
    mvhd, 64-bit largesize boxes, nested trak counting — and fail
    loudly on a truncated box."""
    import struct

    import pytest

    from presto_cached_examples_spark.llm.multimodal import (
        _decode_mp4_meta,
        _parse_mp4_boxes,
    )

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    # v1 mvhd (64-bit times) + 3 traks + a largesize mdat
    mvhd_v1 = box(
        b"mvhd",
        b"\x01\x00\x00\x00"
        + struct.pack(">QQIQ", 0, 0, 90000, 123456789)
        + b"\x00" * 80,
    )
    moov = box(b"moov", mvhd_v1 + b"".join(box(b"trak", b"") for _ in range(3)))
    data = b"x" * 32
    large_mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(data)) + data
    payload = box(b"ftyp", b"mp42" + struct.pack(">I", 0)) + moov + large_mdat
    brand, timescale, duration, n_tracks = _decode_mp4_meta(payload)
    assert (brand, timescale, duration, n_tracks) == ("mp42", 90000, 123456789, 3)
    kinds = [t for t, _, _ in _parse_mp4_boxes(payload)]
    assert kinds == [b"ftyp", b"moov", b"mdat"]

    with pytest.raises(ValueError):
        _decode_mp4_meta(payload[:-40])  # truncated largesize box


def test_mm_video_meta_reconciles(spark):
    """Payloads must be well-formed MP4s and the reported metadata must
    reconcile with the synthesis rule (duration = n_chars ms, tracks =
    1 + doc_id % 2)."""
    from presto_cached_examples_spark.llm.multimodal import (
        _MP4_TIMESCALE,
        _decode_mp4_meta,
        video_table,
    )
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    texts = {
        r.doc_id: r.text for r in load_table(spark, SF_TINY, "documents").collect()
    }
    for r in video_table(spark, SF_TINY).take(5):
        p = bytes(r.payload)
        assert p[4:8] == b"ftyp"
        brand, ts, dur, trk = _decode_mp4_meta(p)
        assert brand == "isom" and ts == _MP4_TIMESCALE
        assert dur == len(texts[r.doc_id])
        assert trk == 1 + (r.doc_id % 2)
        assert texts[r.doc_id].encode() in p  # mdat carries the bytes
    rows = {r.doc_id: r for r in queries()["q_mm_video_meta"](spark, SF_TINY).collect()}
    assert set(rows) == set(texts)
    for did, text in texts.items():
        r = rows[did]
        assert r.n_tracks == 1 + (did % 2)
        assert abs(r.duration_sec - len(text) / _MP4_TIMESCALE) < 1e-9


def test_curation_pipeline_composes_its_stages(spark):
    """The composed plan must equal running the stages independently:
    dedup survivors -> ppl-kept set -> a valid 1..N permutation whose
    per-source order follows md5(doc_id)."""
    import hashlib

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    rows = sorted(
        queries()["q_curation_pipeline"](spark, SF_TINY).collect(),
        key=lambda r: r.pos,
    )
    n = len(rows)
    assert [r.pos for r in rows] == list(range(1, n + 1))
    docs = load_table(spark, SF_TINY, "documents").collect()
    # stage 1: exact dedup (min doc_id per text)
    first_by_text: dict[str, int] = {}
    for r in sorted(docs, key=lambda r: r.doc_id):
        first_by_text.setdefault(r.text, r.doc_id)
    survivors = set(first_by_text.values())
    emitted = {r.doc_id for r in rows}
    assert emitted <= survivors, "a non-canonical duplicate was scheduled"
    assert 0 < len(emitted) < len(docs) or len(survivors) == len(docs)
    # stage 3: per-source md5 order
    per_src: dict[str, list] = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r.doc_id)
    for s, ids in per_src.items():
        want = sorted(ids, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
        assert ids == want, s
    # stage 2 dropped the high tail but kept the bulk
    assert len(emitted) / len(survivors) > 0.6


def test_basket_rules_match_reference_counts(spark):
    """Python replay of supports/confidence/lift for the reported
    rules under the SAME deterministic basket cap (first _BASKET_CAP
    items per basket in (md5(id), id) order feed the pair counts;
    item supports stay exact/pre-cap); the truncation count must match
    and the list must be lift-descending."""
    import hashlib
    import math
    from collections import Counter

    from presto_cached_examples_spark.operators.behavioral import _BASKET_CAP
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    li = load_table(spark, SF_TINY, "lineitem").select("l_orderkey", "l_partkey").collect()
    baskets: dict[int, set] = {}
    for r in li:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    N = len(baskets)
    n_trunc = sum(1 for ps in baskets.values() if len(ps) > _BASKET_CAP)
    assert n_trunc > 0, "no basket above the cap — cap untested at fixture scale"
    item = Counter()
    pair = Counter()
    for ps in baskets.values():
        for p in ps:
            item[p] += 1  # supports are exact: pre-cap
        kept = sorted(
            ps, key=lambda p: (hashlib.md5(str(p).encode()).hexdigest(), p)
        )[:_BASKET_CAP]
        ss = sorted(kept)
        for i, a in enumerate(ss):
            for b in ss[i + 1 :]:
                pair[(a, b)] += 1

    rows = queries()["q_basket_rules"](spark, SF_TINY).collect()
    assert rows
    lifts = [r.lift_bp for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        a, b = r.antecedent, r.consequent
        nab = pair[(min(a, b), max(a, b))]
        assert nab == r.n_both and nab >= 2
        assert r.n_truncated_baskets == n_trunc
        assert r.confidence_bp == math.floor(nab * 10000.0 / item[a] + 0.5)
        assert r.lift_bp == math.floor(
            (nab * 1.0) * N / (item[a] * item[b]) * 10000.0 + 0.5
        )


def test_basket_rules_jumbo_basket_is_bounded(spark):
    """One synthetic 100k-item basket must expand to exactly
    C(cap, 2) pairs — the capped HOF keeps task memory bounded where
    the uncapped form would build a ~5e9-struct array in one task."""
    from presto_cached_examples_spark.operators.behavioral import (
        _BASKET_CAP,
        _basket_jumbo_probe,
    )

    assert _basket_jumbo_probe(spark) == _BASKET_CAP * (_BASKET_CAP - 1) // 2


def test_kcenter_is_greedy_farthest_point(spark):
    """Numpy replay of the greedy traversal: same selection order,
    same radii; radii must be non-increasing after step 2 (the
    coverage-curve property of farthest-point)."""
    import hashlib

    import numpy as np

    from presto_cached_examples_spark.llm.sampling import _KCENTER_K
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_TINY, "embeddings").collect()
    }
    seed = min(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    sel = [seed]
    radii = [0.0]
    while len(sel) < _KCENTER_K:
        best = None
        for vid, v in vecs.items():
            if vid in sel:
                continue
            md = min(float(((v - vecs[s]) ** 2).sum()) for s in sel)
            if best is None or md > best[1] or (md == best[1] and vid < best[0]):
                if best is None or md > best[1]:
                    best = (vid, md)
                elif vid < best[0]:
                    best = (vid, md)
        sel.append(best[0])
        radii.append(best[1])
    rows = sorted(
        queries()["q_sample_kcenter"](spark, SF_TINY).collect(),
        key=lambda r: r.sel_order,
    )
    assert [r.vec_id for r in rows] == sel
    for r, want in zip(rows[1:], radii[1:]):
        assert abs(r.radius2 - round(want, 4)) <= 1e-3
    rs = [r.radius2 for r in rows[1:]]
    assert rs == sorted(rs, reverse=True), "coverage radius must shrink"


def test_kcenter_oversampling_scan_budget(spark):
    """The round-9 oversampled traversal (VERDICT r8 item 6) must do
    its COLD selection in well under k corpus scans on the fixture —
    the 4-scans-not-8 win is the point of the rewrite, so a
    certification regression that silently degrades every build back
    to one-scan-per-center must fail here, not just read slower.
    Evicting the memo forces a cold rebuild; the rebuilt selection
    must equal the memoized one (determinism across rebuilds)."""
    from presto_cached_examples_spark.llm import sampling
    from presto_cached_examples_spark.llm.sampling import _KCENTER_K, _KCENTER_LAST_SCANS
    from presto_cached_examples_spark.plans import artifacts

    before = sampling._kcenter_select(spark, SF_TINY)  # warm or build
    artifacts.forget(spark, SF_TINY, ("kcenter", _KCENTER_K))
    rebuilt = sampling._kcenter_select(spark, SF_TINY)  # guaranteed cold
    assert rebuilt == before, "cold rebuild changed the selection"
    scans = _KCENTER_LAST_SCANS["scans"]
    # fixture corpora certify in 3 pool passes + seed; allow 1 slack
    # pass before calling it a regression toward the old k-scan bound
    assert 2 <= scans <= _KCENTER_K - 3, (
        f"cold k-center build used {scans} corpus scans — the "
        f"oversampling certificate has regressed toward the "
        f"one-scan-per-center bound ({_KCENTER_K} scans)"
    )


def test_kcenter_duplicated_corpus_degrades_gracefully(spark, tmp_path):
    """Standing watch item (VERDICT r9+ "k-center oversampling
    degradation on fully-duplicated corpora"), now pinned: on an
    adversarial corpus of massively duplicated vectors every pool
    score ties at tau, so the certificate can prove only the first
    pick of each pass. The documented contract is graceful
    degradation — at worst the OLD one-scan-per-center bound, never a
    wrong or short selection. Both halves asserted here on 4 distinct
    points × 32 copies each (pool-sized duplicate runs force the
    uncertified-tie rescans)."""
    import hashlib

    from pyspark.sql import types as T

    from presto_cached_examples_spark.llm import sampling

    k = sampling._KCENTER_K
    n = 4 * sampling._KCENTER_POOL  # 4 clusters × pool-many copies
    distinct = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [7.0, 7.0]]
    data = [(i, [float(x) for x in distinct[i % 4]], i % 4) for i in range(n)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    sf_dir = str(tmp_path / "dupfix")
    spark.createDataFrame(data, schema).write.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    sel = sampling._kcenter_select(spark, sf_dir, k=k)
    scans = sampling._KCENTER_LAST_SCANS["scans"]
    assert len(sel) == k, "selection came up short on duplicated data"
    # exact-selection half: brute-force greedy with the same md5 seed
    # and (max md, min vec_id) tie-break — duplicates make every later
    # radius 0.0, and the selection must still be THE deterministic one
    vecs = {vid: v for vid, v, _lbl in data}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    seed = min(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    chosen, radii = [seed], [0.0]
    while len(chosen) < k:
        best = None
        for vid, v in vecs.items():
            if vid in chosen:
                continue
            md = min(d2(v, vecs[c]) for c in chosen)
            if best is None or (-md, vid) < best[0]:
                best = ((-md, vid), vid, md)
        chosen.append(best[1])
        radii.append(best[2])
    assert [vid for vid, _v, _d in sel] == chosen
    assert [round(d, 4) for _vid, _v, d in sel] == [round(r, 4) for r in radii]
    # the 4 distinct points are covered before any zero-radius
    # duplicate is spent from the budget
    first4 = {tuple(vecs[vid]) for vid in chosen[:4]}
    assert len(first4) == 4, "a duplicate was picked before coverage was complete"
    assert all(r == 0.0 for r in radii[4:]), "nonzero radius after full coverage"
    # degradation half: never WORSE than the pre-oversampling bound of
    # one corpus scan per center (seed included)
    assert scans <= k, (
        f"duplicated corpus cost {scans} scans — worse than the "
        f"one-scan-per-center bound the contract promises"
    )


def test_embed_sweep_counts_are_monotone_and_match_base(spark):
    """Counts must be non-increasing in the threshold, and the 0.25 row
    must match q_dedup_embed's emitted pair count exactly."""
    from presto_cached_examples_spark.registry import queries

    rows = {r.threshold: r for r in queries()["q_dedup_embed_sweep"](spark, SF_TINY).collect()}
    ts = sorted(rows)
    for lo, hi in zip(ts, ts[1:]):
        assert rows[lo].n_pairs >= rows[hi].n_pairs
        assert rows[lo].n_dup_candidates >= rows[hi].n_dup_candidates
    base = queries()["q_dedup_embed"](spark, SF_TINY).collect()
    assert rows[0.25].n_pairs == len(base)
    assert rows[0.25].n_dup_candidates == len({r.vec_b for r in base})


def test_snapshot_diff_reconciles(spark):
    """Status counts must reconcile with the mutation rules applied to
    the raw orders table."""
    from presto_cached_examples_spark.operators.scans import (
        _DIFF_DEL_MOD,
        _DIFF_INS_MOD,
        _DIFF_UPD_MOD,
    )
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    keys = [r.o_orderkey for r in load_table(spark, SF_TINY, "orders").select("o_orderkey").collect()]
    n = len(keys)
    want_added = sum(1 for k in keys if k % _DIFF_INS_MOD == 11)
    want_deleted = sum(1 for k in keys if k % _DIFF_DEL_MOD == 7)
    want_changed = sum(
        1 for k in keys if k % _DIFF_DEL_MOD != 7 and k % _DIFF_UPD_MOD == 3
    )
    rows = {r.status: r for r in queries()["q_snapshot_diff"](spark, SF_TINY).collect()}
    assert rows["added"].n_rows == want_added
    assert rows["deleted"].n_rows == want_deleted
    assert rows["changed"].n_rows == want_changed
    assert rows["unchanged"].n_rows == n - want_deleted - want_changed
    assert rows["deleted"].price_delta < 0 < rows["changed"].price_delta
    assert rows["unchanged"].price_delta == 0.0


def test_quality_gopher_replays_rules(spark):
    """Per-source retention and violation counts must match a Python
    replay of the four rules over the raw table."""
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    docs = load_table(spark, SF_TINY, "documents").select("source", "text").collect()
    want = {}
    for r in docs:
        t = r.text.split(" ")
        n = len(t)
        sumc = len(r.text) - (n - 1)
        sw = sum(1 for w in t if w in ("the", "a"))
        nd = len(set(t))
        v = [
            0 if 20 <= n <= 90 else 1,
            0 if 8 * n <= 2 * sumc <= 10 * n else 1,
            0 if sw >= 2 else 1,
            0 if 5 * nd >= 2 * n else 1,
        ]
        agg = want.setdefault(r.source, [0, 0, 0, 0, 0, 0])  # docs, kept, 4 viols
        agg[0] += 1
        agg[1] += 1 if sum(v) == 0 else 0
        for i, x in enumerate(v):
            agg[2 + i] += x
    rows = {r.source: r for r in queries()["q_quality_gopher"](spark, SF_TINY).collect()}
    assert set(rows) == set(want)
    for src, (n_docs, kept, wc, mwl, stop, ttr) in want.items():
        r = rows[src]
        assert (r.n_docs, r.n_kept, r.wc_viol, r.mwl_viol, r.stop_viol, r.ttr_viol) == (
            n_docs, kept, wc, mwl, stop, ttr,
        )
        assert r.retention == round(kept / n_docs, 4)


def test_doc_length_hist_shares_sum_to_one(spark):
    """Within each language the bucket shares must sum to 1 and the
    cumulative share must be non-decreasing, ending at 1."""
    from collections import defaultdict

    from presto_cached_examples_spark.registry import queries

    by_lang = defaultdict(list)
    for r in queries()["q_doc_length_hist"](spark, SF_TINY).collect():
        by_lang[r.lang].append(r)
    assert by_lang
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r.bucket_lo)
        assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
        cums = [r.cum_share for r in rows]
        assert cums == sorted(cums)
        assert abs(cums[-1] - 1.0) < 1e-9
        for r in rows:
            assert r.bucket_lo % 10 == 0
            assert r.n_tokens >= r.n_docs * r.bucket_lo


def test_embed_dim_stats_bounds(spark):
    """One row per dimension; each row's mean must sit inside
    [min, max] and the flag must agree with the rounded std."""
    from presto_cached_examples_spark.registry import queries

    rows = queries()["q_embed_dim_stats"](spark, SF_TINY).collect()
    assert len(rows) == 64
    assert sorted(r.dim for r in rows) == list(range(64))
    for r in rows:
        assert r.min_val <= r.mean_val <= r.max_val
        assert r.std_val >= 0
        assert r.low_var == (r.std_val < 0.01)


def test_embed_label_margin_matches_numpy(spark):
    """Margins must match a numpy replay with 6dp-rounded centroids."""
    import numpy as np

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    raw = load_table(spark, SF_TINY, "embeddings").collect()
    vecs = {r.vec_id: (r.label, np.array(r.embedding, dtype=np.float64)) for r in raw}
    labels = sorted({l for l, _ in vecs.values()})
    cents = {
        lab: np.round(
            np.mean([v for l, v in vecs.values() if l == lab], axis=0), 6
        )
        for lab in labels
    }
    margins = {lab: [] for lab in labels}
    for _vid, (lab, v) in vecs.items():
        nrm = float(np.sqrt(v @ v))
        cos = {
            cl: float(v @ c) / (nrm * float(np.sqrt(c @ c)))
            for cl, c in cents.items()
        }
        own = cos[lab]
        other = max(c for cl, c in cos.items() if cl != lab)
        margins[lab].append(own - other)
    rows = {r.label: r for r in queries()["q_embed_label_margin"](spark, SF_TINY).collect()}
    assert set(rows) == set(labels)
    for lab in labels:
        m = margins[lab]
        r = rows[lab]
        assert r.n_vecs == len(m)
        assert abs(r.avg_margin - round(sum(m) / len(m), 4)) <= 1e-4
        assert abs(r.min_margin - round(min(m), 4)) <= 1e-4
        assert r.n_misassigned == sum(1 for x in m if round(x, 4) < 0)


def test_graph_degree_stats_reconciles(spark):
    """Bucket populations must cover every node exactly once, bucket
    ranges must respect the power-of-two boundaries, and shares must
    sum to 1."""
    from presto_cached_examples_spark.operators.graph import copurchase_pairs
    from presto_cached_examples_spark.registry import queries

    pairs = copurchase_pairs(spark, SF_TINY).collect()
    deg = {}
    for r in pairs:
        deg[r.pa] = deg.get(r.pa, 0) + 1
        deg[r.pb] = deg.get(r.pb, 0) + 1
    rows = queries()["q_graph_degree_stats"](spark, SF_TINY).collect()
    assert sum(r.n_nodes for r in rows) == len(deg)
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.bucket_lo & (r.bucket_lo - 1) == 0  # power of two
        assert r.bucket_lo <= r.min_deg <= r.max_deg < 2 * r.bucket_lo


def test_events_autocorr_matches_numpy(spark):
    """Lag correlations must match numpy's corrcoef on the daily
    series, and every (type, lag) cell must be present."""
    import numpy as np

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    ev = load_table(spark, SF_TINY, "events").collect()
    daily = {}
    for r in ev:
        k = (r.event_type, r.ts.date())
        daily[k] = daily.get(k, 0) + 1
    types = sorted({t for t, _ in daily})
    rows = {(r.event_type, r.lag): r for r in queries()["q_events_autocorr"](spark, SF_TINY).collect()}
    assert set(rows) == {(t, k) for t in types for k in range(1, 8)}
    for t in types:
        days = sorted(d for tt, d in daily if tt == t)
        for lag in range(1, 8):
            xs, ys = [], []
            for d in days:
                d2 = d + __import__("datetime").timedelta(days=lag)
                if (t, d2) in daily:
                    xs.append(daily[(t, d)])
                    ys.append(daily[(t, d2)])
            r = rows[(t, lag)]
            assert r.n_pairs == len(xs)
            want = float(np.corrcoef(xs, ys)[0, 1])
            assert abs(r.autocorr - round(want, 4)) <= 1e-4


def test_events_mad_flags_match_replay(spark):
    """Flagged days must be exactly those beyond 2 x 1.4826 x MAD of
    the per-type median, with median/MAD replayed via numpy."""
    import numpy as np

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    ev = load_table(spark, SF_TINY, "events").collect()
    daily = {}
    for r in ev:
        k = (r.event_type, r.ts.date())
        daily[k] = daily.get(k, 0) + 1
    want = set()
    for t in {tt for tt, _ in daily}:
        series = {d: c for (tt, d), c in daily.items() if tt == t}
        med = float(np.median(list(series.values())))
        mad = float(np.median([abs(c - med) for c in series.values()]))
        if mad > 0:
            for d, c in series.items():
                if abs(c - med) > 2.0 * 1.4826 * mad:
                    want.add((t, d))
    got = {(r.event_type, r.day.date()) for r in queries()["q_events_mad"](spark, SF_TINY).collect()}
    assert got == want


def test_source_jaccard_matches_python_sets(spark):
    """Every emitted pair must match Python set arithmetic on the
    per-source vocabularies; zero-overlap pairs must be absent."""
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    docs = load_table(spark, SF_TINY, "documents").select("source", "text").collect()
    vocab = {}
    for r in docs:
        vocab.setdefault(r.source, set()).update(w for w in r.text.split(" ") if w)
    rows = {(r.src_a, r.src_b): r for r in queries()["q_source_jaccard"](spark, SF_TINY).collect()}
    srcs = sorted(vocab)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            inter = len(vocab[a] & vocab[b])
            if inter == 0:
                assert (a, b) not in rows
                continue
            r = rows[(a, b)]
            uni = len(vocab[a] | vocab[b])
            assert (r.n_inter, r.n_union) == (inter, uni)
            assert r.jaccard == round(inter / uni, 4)


def test_dedup_soft_weights_match_replay(spark):
    """Effective counts must equal a Python replay of the
    1/cluster-size weighting on vocabulary fingerprints."""
    from collections import Counter, defaultdict

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    docs = load_table(spark, SF_TINY, "documents").select("source", "text").collect()
    fp = [(r.source, " ".join(sorted(set(r.text.split(" ")))), len(r.text.split(" "))) for r in docs]
    csize = Counter(f for _, f, _ in fp)
    eff = defaultdict(float)
    efft = defaultdict(float)
    nd = defaultdict(int)
    for src, f, n in fp:
        eff[src] += 1.0 / csize[f]
        efft[src] += n / csize[f]
        nd[src] += 1
    rows = {r.source: r for r in queries()["q_dedup_soft"](spark, SF_TINY).collect()}
    assert set(rows) == set(nd)
    for src, r in rows.items():
        assert r.n_docs == nd[src]
        assert abs(r.effective_docs - round(eff[src], 4)) <= 1e-4
        assert abs(r.effective_tokens - round(efft[src], 2)) <= 1e-2
        assert abs(r.dup_inflation - round(nd[src] / eff[src], 4)) <= 1e-4
        # weights never exceed 1, so effective <= raw
        assert r.effective_docs <= r.n_docs + 1e-9


def test_returns_wilson_matches_closed_form(spark):
    """CI must match the Wilson score formula on the exact counts and
    must bracket p_hat inside [0, 1]."""
    import math

    from presto_cached_examples_spark.registry import queries

    for r in queries()["q_returns_wilson"](spark, SF_TINY).collect():
        p = r.n_returned / r.n_items
        z = 1.96
        n = r.n_items
        center = p + z * z / (2 * n)
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
        denom = 1 + z * z / n
        assert r.p_hat == round(p, 4)
        assert abs(r.ci_lo - round((center - half) / denom, 4)) <= 1e-4
        assert abs(r.ci_hi - round((center + half) / denom, 4)) <= 1e-4
        assert 0 <= r.ci_lo <= r.p_hat <= r.ci_hi <= 1


def test_order_gaps_shares_and_buckets(spark):
    """Bucket populations must match a Python replay of per-customer
    consecutive-order day gaps; shares sum to 1 per segment."""
    from collections import defaultdict

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    orders = load_table(spark, SF_TINY, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    ).collect()
    cust = {
        r.c_custkey: r.c_mktsegment
        for r in load_table(spark, SF_TINY, "customer").collect()
    }
    by_cust = defaultdict(list)
    for r in orders:
        by_cust[r.o_custkey].append((r.o_orderdate, r.o_orderkey))
    want = defaultdict(int)
    for ck, lst in by_cust.items():
        lst.sort()
        for (d1, _), (d2, _) in zip(lst, lst[1:]):
            gap = (d2 - d1).days
            b = 0 if gap < 7 else 7 if gap < 30 else 30 if gap < 90 else 90 if gap < 365 else 365
            want[(cust[ck], b)] += 1
    rows = queries()["q_order_gaps"](spark, SF_TINY).collect()
    got = {(r.segment, r.bucket_lo): r.n_gaps for r in rows}
    assert got == dict(want)
    bys = defaultdict(int)
    for r in rows:
        bys[r.segment] += r.share_bp
    for s, tot in bys.items():
        # each bucket share is floored independently — n_buckets bp slack
        assert abs(tot - 10000) <= 5


def test_revenue_ewma_matches_pandas_recurrence(spark):
    """The fold must reproduce the adjust=False EWMA recurrence seeded
    at the 28-row frame head, per day."""
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    orders = load_table(spark, SF_TINY, "orders").select(
        "o_orderdate", "o_totalprice"
    ).collect()
    daily = {}
    for r in orders:
        d = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        daily[d] = daily.get(d, 0) + round(r.o_totalprice * 100)
    days = sorted(daily)
    series = [daily[d] / 100.0 for d in days]
    rows = {r.day.date(): r for r in queries()["q_revenue_ewma"](spark, SF_TINY).collect()}
    assert len(rows) == len(days)
    for i, d in enumerate(days):
        frame = series[max(0, i - 27): i + 1]
        acc = frame[0]
        for x in frame[1:]:
            acc = 0.7 * acc + 0.3 * x
        r = rows[d]
        assert abs(r.ewma - round(acc, 2)) <= 1e-2
        assert r.above_trend == (series[i] > acc)


def test_seasonal_naive_lag12_replay(spark):
    """MAPE/bias must match a replay of the lag-12 forecast on
    cent-exact nation-month revenue."""
    from collections import defaultdict

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    orders = load_table(spark, SF_TINY, "orders").collect()
    cust = {r.c_custkey: r.c_nationkey for r in load_table(spark, SF_TINY, "customer").collect()}
    nat = {r.n_nationkey: r.n_name for r in load_table(spark, SF_TINY, "nation").collect()}
    monthly = defaultdict(int)
    for r in orders:
        d = r.o_orderdate
        m = (d.year, d.month)
        monthly[(nat[cust[r.o_custkey]], m)] += round(r.o_totalprice * 100)
    errs = defaultdict(list)
    for (nation, (y, m)), cents in monthly.items():
        prev = monthly.get((nation, (y - 1, m)))
        if prev is not None:
            a, f = cents / 100.0, prev / 100.0
            errs[nation].append((a - f) / a)
    rows = {r.nation: r for r in queries()["q_seasonal_naive"](spark, SF_TINY).collect()}
    assert set(rows) == set(errs)
    for nation, es in errs.items():
        r = rows[nation]
        assert r.n_months == len(es)
        assert abs(r.mape - round(sum(abs(e) for e in es) / len(es), 4)) <= 1e-4
        assert abs(r.bias - round(sum(es) / len(es), 4)) <= 1e-4


def test_ab_lift_welch_replay(spark):
    """The z statistic must match a replay of the Welch formula on
    exact cent sums, and the A/A null split should rarely fire."""
    import hashlib
    import math

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    ev = load_table(spark, SF_TINY, "events").filter("event_type = 'purchase'").collect()
    stats = {0: [0, 0, 0], 1: [0, 0, 0]}
    for r in ev:
        g = int(hashlib.md5(str(r.user_id).encode()).hexdigest()[:8], 16) % 2
        c = round(r.value * 100)
        s = stats[g]
        s[0] += 1
        s[1] += c
        s[2] += c * c
    (n_a, s_a, ss_a), (n_b, s_b, ss_b) = stats[0], stats[1]
    mean_a, mean_b = s_a / 100.0 / n_a, s_b / 100.0 / n_b
    var_a = (ss_a / 1e4 - (s_a / 100.0) ** 2 / n_a) / (n_a - 1)
    var_b = (ss_b / 1e4 - (s_b / 100.0) ** 2 / n_b) / (n_b - 1)
    z = (mean_b - mean_a) / math.sqrt(var_a / n_a + var_b / n_b)
    [row] = queries()["q_ab_lift"](spark, SF_TINY).collect()
    assert (row.n_a, row.n_b) == (n_a, n_b)
    assert row.mean_a == round(mean_a, 4)
    assert row.mean_b == round(mean_b, 4)
    assert abs(row.z - round(z, 3)) <= 1e-3
    assert row.significant == (abs(round(z, 3)) > 1.96)


def test_map_funcs_replay(spark):
    """Map construction/lookup must reproduce plain Python counting."""
    from collections import defaultdict

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    ev = load_table(spark, SF_TINY, "events").select("user_id", "event_type").collect()
    cnt = defaultdict(lambda: defaultdict(int))
    for r in ev:
        cnt[r.user_id][r.event_type] += 1
    rows = {r.user_id: r for r in queries()["q_map_funcs"](spark, SF_TINY).collect()}
    assert set(rows) == set(cnt)
    for uid, types in cnt.items():
        r = rows[uid]
        assert r.n_types == len(types)
        assert r.purchase_cnt == types.get("purchase", 0)
        assert r.type_list == ",".join(sorted(types))


def test_join_nullsafe_matches_null_bucket(spark):
    """The NULL bucket must appear exactly once and the pair counts
    must be the exact products of per-side bucket sizes."""
    from collections import Counter

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    c = Counter(
        (r.c_nationkey % 5) if r.c_nationkey % 5 != 4 else None
        for r in load_table(spark, SF_TINY, "customer").collect()
    )
    s = Counter(
        (r.s_nationkey % 5) if r.s_nationkey % 5 != 4 else None
        for r in load_table(spark, SF_TINY, "supplier").collect()
    )
    rows = {r.k: r for r in queries()["q_join_nullsafe"](spark, SF_TINY).collect()}
    want_keys = set(c) & set(s)
    assert set(rows) == want_keys
    assert None in rows  # the row a plain equi-join would drop
    for k in want_keys:
        r = rows[k]
        assert (r.n_cust, r.n_supp, r.n_pairs) == (c[k], s[k], c[k] * s[k])


def test_graph_khop_replay(spark):
    """2-hop reach must match a BFS-depth-2 replay with the SAME
    deterministic hub cap (second hop expands only through each hop
    node's first _KHOP_HUB_CAP neighbors in (md5(id), id) order); the
    reach_capped flag must mark exactly the nodes adjacent to a capped
    hub, and the cap must actually bite at fixture scale."""
    import hashlib
    import math
    from collections import defaultdict

    from presto_cached_examples_spark.operators.graph import (
        _KHOP_HUB_CAP,
        copurchase_pairs,
    )
    from presto_cached_examples_spark.registry import queries

    adj = defaultdict(set)
    for r in copurchase_pairs(spark, SF_TINY).collect():
        adj[r.pa].add(r.pb)
        adj[r.pb].add(r.pa)
    capped_adj = {
        node: sorted(
            nbrs, key=lambda b: (hashlib.md5(str(b).encode()).hexdigest(), b)
        )[:_KHOP_HUB_CAP]
        for node, nbrs in adj.items()
    }
    hubs = {n for n, nbrs in adj.items() if len(nbrs) > _KHOP_HUB_CAP}
    assert hubs, "fixture graph has no hubs above the cap — cap untested"
    rows = {r.part_key: r for r in queries()["q_graph_khop"](spark, SF_TINY).collect()}
    assert set(rows) == set(adj)
    for node, nbrs in adj.items():
        reach = set(nbrs)
        for n in nbrs:
            reach.update(capped_adj[n])
        reach.discard(node)
        r = rows[node]
        assert r.n_neighbors == len(nbrs)
        assert r.n_reach2 == len(reach)
        assert r.expansion_bp == math.floor(
            len(reach) * 10000.0 / len(nbrs) + 0.5
        )
        assert r.reach_capped == bool(nbrs & hubs)


def test_rank_fusion_replay(spark):
    """RRF scores must match a replay fusing the two standalone
    shortlists, and candidates in both lists must outrank solo tails
    with comparable ranks."""
    from presto_cached_examples_spark.registry import queries

    ex = queries()["q_sim_topk"](spark, SF_TINY).collect()
    iv = queries()["q_sim_topk_ivf"](spark, SF_TINY).collect()
    lists = {}
    for r in ex:
        lists.setdefault((r.probe_id, r.vec_id), [None, None])[0] = r.k
    for r in iv:
        lists.setdefault((r.probe_id, r.vec_id), [None, None])[1] = r.k
    want = {}
    for (pid, vid), (ke, ki) in lists.items():
        rrf = (1.0 / (60 + ke) if ke else 0.0) + (1.0 / (60 + ki) if ki else 0.0)
        want.setdefault(pid, []).append((round(rrf, 6), vid, ke is not None and ki is not None))
    rows = queries()["q_rank_fusion"](spark, SF_TINY).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    for pid, cands in want.items():
        cands.sort(key=lambda t: (-t[0], t[1]))
        got = sorted(by_probe[pid], key=lambda r: r.k)
        assert len(got) == min(5, len(cands))
        for r, (rrf, vid, both) in zip(got, cands):
            assert (r.vec_id, r.rrf, r.in_both) == (vid, rrf, both)


def test_cluster_purity_reconciles(spark):
    """Cell sizes must cover the corpus exactly once and purity must
    equal the majority share."""
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    n_corpus = load_table(spark, SF_TINY, "embeddings").count()
    rows = queries()["q_cluster_purity"](spark, SF_TINY).collect()
    assert sum(r.n_vecs for r in rows) == n_corpus
    for r in rows:
        assert 1 <= r.n_labels <= 10
        assert r.n_majority <= r.n_vecs
        assert abs(r.purity - r.n_majority / r.n_vecs) <= 1e-4
        # majority share can't be below the uniform floor
        assert r.purity >= 1.0 / r.n_labels - 1e-9


def test_quality_ensemble_reconciles_with_standalone_gates(spark):
    """Per-gate keep counts must equal the standalone queries' numbers,
    and the 2-of-3 vote must bound between min-gate and max-gate."""
    from collections import defaultdict

    from presto_cached_examples_spark.registry import queries

    gop = {r.source: r.n_kept for r in queries()["q_quality_gopher"](spark, SF_TINY).collect()}
    ppl = {r.source: r.n_kept for r in queries()["q_quality_ppl_filter"](spark, SF_TINY).collect()}
    # logistic emits per-doc; fold to per-source via documents
    from presto_cached_examples_spark.sources.catalog import load_table

    src_of = {
        r.doc_id: r.source
        for r in load_table(spark, SF_TINY, "documents").select("doc_id", "source").collect()
    }
    log_keep = defaultdict(int)
    for r in queries()["q_quality_logistic"](spark, SF_TINY).collect():
        if r.keep:
            log_keep[src_of[r.doc_id]] += 1
    rows = {r.source: r for r in queries()["q_quality_ensemble"](spark, SF_TINY).collect()}
    assert set(rows) == set(gop)
    for src, r in rows.items():
        assert r.keep_rules == gop[src]
        assert r.keep_model == log_keep[src]
        assert r.keep_lm == ppl[src]
        assert r.n_unanimous <= r.n_docs
        assert r.ensemble_kept <= r.n_docs
        assert abs(r.ensemble_retention - r.ensemble_kept / r.n_docs) <= 1e-4


def test_dedup_soft_total_effective_equals_cluster_count(spark):
    """Invariant: each cluster contributes exactly 1.0 effective doc
    (n members x 1/n), so total effective docs == number of distinct
    vocabulary fingerprints."""
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    docs = load_table(spark, SF_TINY, "documents").select("text").collect()
    n_clusters = len({" ".join(sorted(set(r.text.split(" ")))) for r in docs})
    rows = queries()["q_dedup_soft"](spark, SF_TINY).collect()
    assert abs(sum(r.effective_docs for r in rows) - n_clusters) < 0.01


def test_minhash_calibration_replay(spark):
    """Bucket counts and exact-Jaccard stats must match a full Python
    replay of the md5 minhash pipeline (signatures, banding, candidate
    generation, shingle-set Jaccard)."""
    import hashlib
    from collections import defaultdict

    from presto_cached_examples_spark.llm.dedup import (
        _MHC_BANDS,
        _MHC_H,
        _MHC_SHINGLE,
    )
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    shingles = {}
    for r in load_table(spark, SF_TINY, "documents").collect():
        t = r.text.split(" ")
        n = max(len(t) - (_MHC_SHINGLE - 1), 1)
        shingles[r.doc_id] = {" ".join(t[i : i + _MHC_SHINGLE]) for i in range(n)}
    sig = {
        d: [min(md5(f"{g}#{i}") for g in gs) for i in range(_MHC_H)]
        for d, gs in shingles.items()
    }
    buckets = defaultdict(set)
    for d, m in sig.items():
        for b in range(_MHC_BANDS):
            buckets[(b, md5(m[2 * b] + m[2 * b + 1]))].add(d)
    cands = set()
    for ds in buckets.values():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                cands.add((a, b))
    assert cands, "no candidate pairs — vacuous fixture"
    by_match = defaultdict(list)
    for a, b in cands:
        nm = sum(1 for i in range(_MHC_H) if sig[a][i] == sig[b][i])
        sa, sb = shingles[a], shingles[b]
        by_match[nm].append(len(sa & sb) / len(sa | sb))
    rows = {r.n_match: r for r in queries()["q_minhash_calibration"](spark, SF_TINY).collect()}
    assert set(rows) == set(by_match)
    for nm, js in by_match.items():
        r = rows[nm]
        assert r.n_pairs == len(js)
        assert abs(r.avg_jaccard - sum(js) / len(js)) <= 1e-4
        assert abs(r.min_jaccard - min(js)) <= 1e-4
        assert abs(r.max_jaccard - max(js)) <= 1e-4
        assert r.est_jaccard == round(nm / _MHC_H, 4)


def test_drift_report_replay(spark):
    """Per-column counts must match a Python replay of the mutation
    rules, and the mutated columns must be the only drifting ones."""
    from presto_cached_examples_spark.operators.scans import (
        _DIFF_DEL_MOD,
        _DIFF_INS_MOD,
        _DIFF_UPD_MOD,
        _DRIFT_COLS,
    )
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    v1 = load_table(spark, SF_TINY, "orders").collect()
    v2 = []
    for r in v1:
        k = r.o_orderkey
        if k % _DIFF_DEL_MOD != 7:
            price = r.o_totalprice * 1.05 if k % _DIFF_UPD_MOD == 3 else r.o_totalprice
            v2.append((k, r.o_custkey, r.o_orderstatus, price, r.o_orderdate, r.o_orderpriority))
        if k % _DIFF_INS_MOD == 11:
            v2.append((-k, r.o_custkey, r.o_orderstatus, r.o_totalprice * 0.37, r.o_orderdate, r.o_orderpriority))
    cols = ("o_orderkey",) + _DRIFT_COLS
    idx = {c: i for i, c in enumerate(cols)}
    rows = {r.col_name: r for r in queries()["q_drift_report"](spark, SF_TINY).collect()}
    assert set(rows) == set(_DRIFT_COLS)
    for c in _DRIFT_COLS:
        r = rows[c]
        assert r.n_v1 == len(v1)
        assert r.n_v2 == len(v2)
        assert r.nulls_v1 == sum(1 for x in v1 if x[idx[c]] is None)
        assert r.nulls_v2 == sum(1 for t in v2 if t[idx[c]] is None)
        assert r.distinct_v1 == len({x[idx[c]] for x in v1})
        assert r.distinct_v2 == len({t[idx[c]] for t in v2})
    for c in _DRIFT_COLS:
        r = rows[c]
        want = r.distinct_v2 / r.distinct_v1 - 1
        assert abs(r.distinct_drift - want) <= 1e-4
    # prices are unique per row, so the ~5% delete / 2% insert nets a
    # cardinality DROP — the monitor reads the delta, not a sign rule
    assert rows["o_totalprice"].distinct_drift < 0


def test_langid_confusion_reconciles_with_per_doc_guesses(spark):
    """Matrix cells must reconcile with q_text_langid's per-doc
    guesses, and row shares must sum to 1 per labeled lang."""
    from collections import Counter, defaultdict

    from presto_cached_examples_spark.registry import queries

    per_doc = queries()["q_text_langid"](spark, SF_TINY).collect()
    want = Counter((r.labeled_lang, r.guessed_lang) for r in per_doc)
    rows = queries()["q_langid_confusion"](spark, SF_TINY).collect()
    got = {(r.labeled_lang, r.guessed_lang): r.n_docs for r in rows}
    assert got == dict(want)
    shares = defaultdict(float)
    for r in rows:
        shares[r.labeled_lang] += r.row_share
        assert r.is_correct == (r.labeled_lang == r.guessed_lang)
    for tot in shares.values():
        assert abs(tot - 1.0) < 1e-3


def test_events_heatmap_covers_all_events(spark):
    """Cell counts must sum to the table size, ISO dow in 1..7, hour in
    0..23, and shares (basis points) sum to ~10000."""
    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    n = load_table(spark, SF_TINY, "events").count()
    rows = queries()["q_events_heatmap"](spark, SF_TINY).collect()
    assert sum(r.n_events for r in rows) == n
    for r in rows:
        assert 1 <= r.dow <= 7 and 0 <= r.hour <= 23
        assert r.n_users <= r.n_events
    assert abs(sum(r.share_bp for r in rows) - 10000) <= len(rows)


def test_sample_balanced_matches_hash_order(spark):
    """Every label keeps exactly min-class-size rows and the kept-id
    checksum matches the md5 hash-order replay."""
    import hashlib
    from collections import defaultdict

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    by_label = defaultdict(list)
    for r in load_table(spark, SF_TINY, "embeddings").collect():
        by_label[r.label].append(r.vec_id)
    cap = min(len(v) for v in by_label.values())
    rows = {r.label: r for r in queries()["q_sample_balanced"](spark, SF_TINY).collect()}
    assert set(rows) == set(by_label)
    for lab, ids in by_label.items():
        ids.sort(key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v))
        r = rows[lab]
        assert r.n_total == len(ids)
        assert r.n_kept == cap
        assert r.kept_id_sum == sum(ids[:cap])


def test_revenue_moving_median_matches_numpy(spark):
    """The frame median must match numpy's median over the trailing
    7-day window of cent-exact day totals."""
    import numpy as np

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    orders = load_table(spark, SF_TINY, "orders").select(
        "o_orderdate", "o_totalprice"
    ).collect()
    daily = {}
    for r in orders:
        d = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        daily[d] = daily.get(d, 0) + round(r.o_totalprice * 100)
    days = sorted(daily)
    series = [daily[d] / 100.0 for d in days]
    rows = {r.day.date(): r for r in queries()["q_revenue_moving_median"](spark, SF_TINY).collect()}
    assert len(rows) == len(days)
    for i, d in enumerate(days):
        frame = series[max(0, i - 6): i + 1]
        want = float(np.median(frame))
        r = rows[d]
        assert abs(r.med7 - round(want, 2)) <= 1e-2
        assert r.above_median == (series[i] > want)


def test_priority_shift_replay(spark):
    """L1 shifts and top movers must match a Python replay of the
    month-over-month share distances on exact counts."""
    from collections import defaultdict

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    counts = defaultdict(lambda: defaultdict(int))
    for r in load_table(spark, SF_TINY, "orders").collect():
        d = r.o_orderdate
        counts[(d.year, d.month)][r.o_orderpriority] += 1
    rows = {r.month.date(): r for r in queries()["q_priority_shift"](spark, SF_TINY).collect()}
    import datetime

    n_checked = 0
    for (y, mo), cur in counts.items():
        prev_key = (y, mo - 1) if mo > 1 else (y - 1, 12)
        prev = counts.get(prev_key)
        if prev is None:
            continue
        shared = set(cur) & set(prev)
        if not shared:
            continue
        t1 = sum(cur.values())
        t0 = sum(prev.values())
        nums = {p: abs(cur[p] * t0 - prev[p] * t1) for p in shared}
        l1 = sum(nums.values()) / (t1 * t0)
        top = min(shared, key=lambda p: (-nums[p], p))
        r = rows[datetime.date(y, mo, 1)]
        assert r.n_priorities == len(shared)
        assert abs(r.l1_shift - round(l1, 4)) <= 1e-4
        assert r.top_mover == top
        assert abs(r.top_shift - round(nums[top] / (t1 * t0), 4)) <= 1e-4
        n_checked += 1
    assert n_checked == len(rows)


def test_stream_alert_replay(spark):
    """Window error counts and the 1.5x-global alert rule must match a
    Python replay over 6-hour epoch buckets."""
    from collections import defaultdict

    from presto_cached_examples_spark.registry import queries
    from presto_cached_examples_spark.sources.catalog import load_table

    ev = load_table(spark, SF_TINY, "events").select("ts", "event_type").collect()
    buckets = defaultdict(lambda: [0, 0])
    for r in ev:
        b = int(r.ts.timestamp() // 21600) * 21600
        buckets[b][0] += 1
        buckets[b][1] += 1 if r.event_type == "error" else 0
    tot_g = sum(v[0] for v in buckets.values())
    err_g = sum(v[1] for v in buckets.values())
    rows = {int(r.ws.timestamp()): r for r in queries()["q_stream_alert"](spark, SF_TINY).collect()}
    assert set(rows) == set(buckets)
    n_alerts = 0
    for b, (n, e) in buckets.items():
        r = rows[b]
        assert (r.n_events, r.n_errors) == (n, e)
        assert r.err_bp == int(e * 10000.0 / n + 0.5)
        assert r.alert == (2 * e * tot_g > 3 * n * err_g)
        n_alerts += r.alert
    # the uniform fixture should still produce SOME high-error windows
    assert 0 < n_alerts < len(buckets)
