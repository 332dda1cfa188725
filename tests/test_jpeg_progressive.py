"""Progressive (SOF2) JPEG decode — round 11, closing VERDICT r10
residual gap #1 ("progressive JPEG is common in real web corpora").

Validation strategy mirrors the round-10 baseline-codec work:
1. round-trip — decode(encode_jpeg_progressive(img)) must be
   BYTE-IDENTICAL to decode(encode_jpeg(img)): a scan script that
   refines every opened band to Al=0 reconstructs the exact quantized
   coefficients the baseline scan carries, so any pixel difference is
   a decoder (or witness-encoder) bug, with the two sides' bugs unable
   to cancel because the wild-file checks pin the decoder alone;
2. wild files — three REAL libjpeg-encoded progressive JPEGs ship in
   this container (spark-mllib / nodejs docs); they decode, match
   their SOF dims, and the progressive grayscale scene correlates
   >0.99 with the luma of an INDEPENDENT baseline encode of the same
   scene (cross-encoder, cross-SOF-type agreement);
3. gates — arithmetic/lossless/hierarchical SOFs still raise the loud
   NotImplementedError, truncated progressive streams raise ValueError,
   corruption fuzz keeps the normalized error contract.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from presto_cached_examples_spark.llm.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)

WILD = [
    ("/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/multi-channel/grayscale.jpg", 300, 215, 1),
    ("/usr/share/doc/nodejs/full-white-stripe.jpg", 493, 312, 3),
    ("/usr/share/doc/nodejs/thin-white-stripe.jpg", 493, 58, 3),
]


def _load(path):
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        pytest.skip(f"wild fixture {path} not present")


@pytest.mark.parametrize(
    "nc,sub,w,h,q,ri",
    [
        (1, "4:4:4", 16, 16, 100, 0),
        (1, "4:4:4", 37, 23, 90, 0),
        (3, "4:4:4", 24, 16, 100, 0),
        (3, "4:2:0", 37, 23, 75, 0),
        (1, "4:4:4", 33, 9, 85, 3),
        (3, "4:2:0", 40, 24, 90, 2),
        (1, "4:4:4", 1, 1, 100, 0),
        (3, "4:2:0", 9, 9, 60, 0),
    ],
)
def test_progressive_roundtrip_equals_baseline(nc, sub, w, h, q, ri):
    """Full-refinement progressive decode == baseline decode, byte for
    byte (same coefficients reach the IDCT), across samplings, odd
    dims, successive approximation, and restart intervals."""
    rng = np.random.RandomState(w * 1000 + h * 10 + nc)
    img = rng.randint(0, 256, w * h * nc, dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, w, h, n_channels=nc, quality=q, subsampling=sub))
    prog = decode_jpeg(
        encode_jpeg_progressive(
            img, w, h, n_channels=nc, quality=q, subsampling=sub, restart_interval=ri
        )
    )
    assert (base == prog).all()


def test_progressive_spectral_selection_only_script():
    """A script with no successive approximation (Al=0 everywhere,
    bands only) exercises the pure spectral-selection decode path and
    must also reproduce the baseline pixels exactly."""
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, 32 * 24 * 3, dtype=np.uint8)
    scans = [
        ([0, 1, 2], 0, 0, 0, 0),
        ([0], 1, 10, 0, 0),
        ([0], 11, 63, 0, 0),
        ([1], 1, 63, 0, 0),
        ([2], 1, 63, 0, 0),
    ]
    base = decode_jpeg(encode_jpeg(img, 32, 24, n_channels=3, quality=80))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, 32, 24, n_channels=3, quality=80, scans=scans)
    )
    assert (base == prog).all()


def test_progressive_noninterleaved_dc_scans():
    """Color frame whose DC arrives in per-component (non-interleaved)
    scans — spec-legal but produced by neither the wild fixtures nor
    the IJG default script; the single-component DC walk addresses the
    component's ceil-dims raster, not the MCU-padded one."""
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, 37 * 21 * 3, dtype=np.uint8)
    scans = [
        ([0], 0, 0, 0, 1),
        ([1], 0, 0, 0, 1),
        ([2], 0, 0, 0, 1),
        ([0], 1, 63, 0, 0),
        ([1], 1, 63, 0, 0),
        ([2], 1, 63, 0, 0),
        ([0], 0, 0, 1, 0),
        ([1], 0, 0, 1, 0),
        ([2], 0, 0, 1, 0),
    ]
    for sub in ("4:4:4", "4:2:0"):
        base = decode_jpeg(
            encode_jpeg(img, 37, 21, n_channels=3, quality=80, subsampling=sub)
        )
        prog = decode_jpeg(
            encode_jpeg_progressive(
                img, 37, 21, n_channels=3, quality=80, subsampling=sub, scans=scans
            )
        )
        assert (base == prog).all(), sub


def test_progressive_dc_only_exact_bytes():
    """The exact-decode construction (uniform 8x8 blocks, quality 100)
    survives a progressive container too: DC-only content refined to
    Al=0 decodes to the exact source bytes."""
    data = bytes(range(256))
    img = np.tile(np.repeat(np.frombuffer(data, dtype=np.uint8), 8), 8)
    jp = encode_jpeg_progressive(img, width=8 * len(data), height=8, quality=100)
    arr = decode_jpeg(jp)
    assert bytes(arr[0 : 8 * len(data) : 8]) == data


@settings(max_examples=25, deadline=None, derandomize=True)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=24),
    nc=st.sampled_from([1, 3]),
    q=st.sampled_from([50, 85, 100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_progressive_roundtrip_property(w, h, nc, q, seed):
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, w * h * nc, dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, w, h, n_channels=nc, quality=q))
    prog = decode_jpeg(encode_jpeg_progressive(img, w, h, n_channels=nc, quality=q))
    assert (base == prog).all()


def _random_scan_script(rng, nc):
    """A random VALID progressive scan script: per component, a DC
    successive-approximation chain plus a random partition of 1..63
    into contiguous AC bands each with its own approximation depth;
    the independent chains are then randomly interleaved (intra-chain
    order preserved — T.81's only ordering constraint)."""
    chains = []
    # DC chain: interleaved-all-components or per-component, depth a0
    a0 = int(rng.randint(0, 3))
    if nc > 1 and rng.randint(2):
        chains.append(
            [(list(range(nc)), 0, 0, 0 if al == a0 else al + 1, al)
             for al in range(a0, -1, -1)]
        )
    else:
        for ci in range(nc):
            d = int(rng.randint(0, 3))
            chains.append(
                [([ci], 0, 0, 0 if al == d else al + 1, al)
                 for al in range(d, -1, -1)]
            )
    # AC chains: contiguous band partition per component
    for ci in range(nc):
        cuts = sorted(set(int(x) for x in rng.randint(2, 64, size=rng.randint(0, 4))))
        lo = 1
        for hi in list(cuts) + [63]:
            if hi < lo:
                continue
            b0 = int(rng.randint(0, 3))
            chains.append(
                [([ci], lo, hi, 0 if al == b0 else al + 1, al)
                 for al in range(b0, -1, -1)]
            )
            lo = hi + 1
    # random interleave preserving intra-chain order; a component's DC
    # first scan must precede its AC scans, so force DC chains first
    dc_chains = [c for c in chains if c[0][1] == 0]
    ac_chains = [c for c in chains if c[0][1] != 0]
    script = [s for c in dc_chains for s in c]
    pending = [list(c) for c in ac_chains]
    while pending:
        i = int(rng.randint(len(pending)))
        script.append(pending[i].pop(0))
        if not pending[i]:
            pending.pop(i)
    return script


@settings(max_examples=20, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    nc=st.sampled_from([1, 3]),
    q=st.sampled_from([60, 100]),
)
def test_progressive_random_scan_scripts(seed, nc, q):
    """Random valid scan scripts (random band partitions, random
    successive-approximation depths, random chain interleaving) must
    all reconstruct the exact baseline pixels — the broadest stress of
    the EOB-run / refinement bookkeeping."""
    rng = np.random.RandomState(seed)
    w, h = int(rng.randint(8, 41)), int(rng.randint(8, 25))
    img = rng.randint(0, 256, w * h * nc, dtype=np.uint8)
    scans = _random_scan_script(rng, nc)
    base = decode_jpeg(encode_jpeg(img, w, h, n_channels=nc, quality=q))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, w, h, n_channels=nc, quality=q, scans=scans)
    )
    assert (base == prog).all(), scans


@pytest.mark.parametrize("path,w,h,nc", WILD)
def test_wild_progressive_files_decode(path, w, h, nc):
    """REAL libjpeg-encoded progressive files (independent encoder,
    per-scan optimized Huffman tables, multi-DHT layout) decode to the
    full SOF raster."""
    arr = decode_jpeg(_load(path))
    assert arr.shape == (w * h * nc,)
    assert arr.dtype == np.uint8
    # not a degenerate render: real image content has spread
    assert 10 < float(arr.mean()) < 254
    assert float(arr.std()) > 1


def test_wild_progressive_matches_independent_baseline_scene():
    """Cross-encoder, cross-SOF-type pin: the progressive grayscale.jpg
    and the baseline chr30.4.184.jpg are the same 300x215 scene from
    the spark-mllib fixtures; the progressive decode must correlate
    >0.99 with the luma of the baseline decode (two different files,
    two different encoder modes, one scene)."""
    gray = decode_jpeg(_load(WILD[0][0])).astype(np.float64)
    color = decode_jpeg(
        _load(
            "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
            "multi-channel/chr30.4.184.jpg"
        )
    )
    rgb = color.reshape(215, 300, 3).astype(np.float64)
    luma = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    corr = np.corrcoef(luma.ravel(), gray)[0, 1]
    assert corr > 0.99
    assert float(np.abs(luma.ravel() - gray).mean()) < 8.0


def test_arithmetic_and_lossless_still_gate():
    """SOF9 (arithmetic) and SOF3 (lossless) keep the loud
    NotImplementedError now that SOF2 decodes."""
    import struct

    for marker in (0xC3, 0xC9, 0xCA):
        p = (
            b"\xff\xd8"
            + bytes([0xFF, marker])
            + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, 8, 8, 1)
            + bytes([1, 0x11, 0])
        )
        with pytest.raises(NotImplementedError, match="arithmetic|lossless|hierarchical"):
            decode_jpeg(p)


def test_progressive_truncation_raises():
    """A progressive stream cut before EOI must raise ValueError (a
    partial render would be silently wrong), and cutting inside a scan
    raises the truncation contract too."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, 24 * 16, dtype=np.uint8)
    jp = encode_jpeg_progressive(img, 24, 16)
    with pytest.raises(ValueError):
        decode_jpeg(jp[:-2])  # EOI stripped
    with pytest.raises(ValueError):
        decode_jpeg(jp[: len(jp) // 2])


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    nflips=st.integers(min_value=1, max_value=6),
)
def test_progressive_corruption_fuzz(seed, nflips):
    """Random byte flips anywhere in a progressive stream must either
    decode (flip landed in pixel-only data) or raise the normalized
    ValueError/NotImplementedError contract — never crash with an
    internal numpy/struct error, never hang."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, 24 * 16 * 3, dtype=np.uint8)
    jp = bytearray(encode_jpeg_progressive(img, 24, 16, n_channels=3, quality=85))
    for _ in range(nflips):
        jp[rng.randint(2, len(jp))] ^= 1 << rng.randint(8)
    try:
        out = decode_jpeg(bytes(jp))
        assert isinstance(out, np.ndarray)
    except (ValueError, NotImplementedError):
        pass


@pytest.mark.parametrize(
    "nc,sub,w,h,q,ri,groups",
    [
        (3, "4:4:4", 24, 16, 100, 0, None),
        (3, "4:2:0", 37, 23, 80, 0, None),
        (3, "4:2:0", 40, 24, 90, 2, None),
        (3, "4:4:4", 32, 16, 85, 0, [[0, 1], [2]]),
        (1, "4:4:4", 19, 11, 90, 0, None),
    ],
)
def test_multiscan_baseline_roundtrip_equals_single_scan(nc, sub, w, h, q, ri, groups):
    """Multi-scan SEQUENTIAL decode (round 11 — previously a PIL gate):
    the same coefficients split across per-component (or interleaved-
    subset) scans must decode byte-identical to the single interleaved
    scan, including with restart intervals. groups=None is one scan
    per component."""
    rng = np.random.RandomState(w + h + nc)
    img = rng.randint(0, 256, w * h * nc, dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, w, h, n_channels=nc, quality=q, subsampling=sub))
    ms = decode_jpeg(
        encode_jpeg(
            img, w, h, n_channels=nc, quality=q, subsampling=sub,
            groups=groups or [[c] for c in range(nc)], restart_interval=ri,
        )
    )
    assert (base == ms).all()


def test_multiscan_missing_component_raises():
    """A sequential multi-scan stream that reaches EOI without covering
    every component must raise, never render gray for the missing
    planes."""
    rng = np.random.RandomState(2)
    img = rng.randint(0, 256, 16 * 16 * 3, dtype=np.uint8)
    full = encode_jpeg(img, 16, 16, n_channels=3, groups=[[0], [1], [2]])
    cut = full[: full.rfind(b"\xff\xda")] + b"\xff\xd9"
    with pytest.raises(ValueError, match="undecoded components"):
        decode_jpeg(cut)


@pytest.mark.parametrize(
    "nc,sub,ri,groups",
    [
        (1, "4:4:4", 0, None),
        (3, "4:2:0", 2, None),
        (3, "4:4:4", 0, [[0], [1], [2]]),
    ],
)
def test_sequential_frames_must_end_in_eoi(nc, sub, ri, groups):
    """Every frame reconstructs at EOI, so a sequential stream whose
    final FF D9 is cut raises ValueError — the single-scan baseline
    frame included, never a render of whatever its scan held (the
    progressive case is test_progressive_truncation_raises)."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, 24 * 16 * nc, dtype=np.uint8)
    jp = encode_jpeg(
        img, 24, 16, n_channels=nc, quality=90, subsampling=sub,
        restart_interval=ri, groups=groups,
    )
    assert jp.endswith(b"\xff\xd9")
    assert decode_jpeg(jp).shape == img.shape
    with pytest.raises(ValueError):
        decode_jpeg(jp[:-2])


def test_single_scan_naming_a_component_twice_raises():
    """A one-scan sequential frame whose SOS selects one component
    twice (and so never delivers another) raises at EOI instead of
    rendering the repeated plane in the missing one's place."""
    rng = np.random.RandomState(4)
    img = rng.randint(0, 256, 16 * 16 * 3, dtype=np.uint8)
    jp = bytearray(encode_jpeg(img, 16, 16, n_channels=3))
    sos = jp.find(b"\xff\xda")
    assert jp[sos + 5 : sos + 10 : 2] == bytes([1, 2, 3])
    jp[sos + 7] = 3  # component selectors 1, 3, 3
    with pytest.raises(ValueError, match="undecoded components"):
        decode_jpeg(bytes(jp))


def test_progressive_in_decode_payload():
    """decode_payload routes progressive JPEG through the stdlib
    decoder now — no PIL needed (the gate narrows to
    arithmetic/12-bit/CMYK)."""
    from presto_cached_examples_spark.llm.multimodal import decode_payload

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, 16 * 16, dtype=np.uint8)
    jp = encode_jpeg_progressive(img, 16, 16)
    out = decode_payload(jp, "image/jpeg")
    assert (out == decode_jpeg(jp)).all()


def test_dc_predictor_overflow_raises():
    """ADVICE r11: a corrupt stream of max-magnitude DC diffs must hit
    the documented ValueError contract, not a numpy OverflowError when
    the unbounded Python predictor lands in an int32 grid. Crafted at
    the block level: category-11 diffs of +2047 accumulate past the
    T.81 ±2047 DC bound on the second block."""
    from presto_cached_examples_spark.llm import jpeg as J

    dctbl = J._build_decode_from(bytes([1] + [0] * 15 + [11]))
    actbl = J._build_decode_from(bytes([1] + [0] * 15 + [0x00]))
    # per block: DC code '0' (cat 11) + 11 magnitude bits of 1 (+2047)
    # + AC code '0' (EOB); two blocks, pad to a byte with 1s
    bits = ("0" + "1" * 11 + "0") * 2
    bits += "1" * (-len(bits) % 8)
    raw = int(bits, 2).to_bytes(len(bits) // 8, "big")
    stuffed = bytearray()
    for b in raw:  # JPEG entropy stuffing: 0xFF -> 0xFF 0x00
        stuffed.append(b)
        if b == 0xFF:
            stuffed.append(0)
    reader = J._BitReader(bytes(stuffed), 0)
    coef = np.zeros(64, dtype=np.int32)
    pred = J._decode_sequential_block(reader, coef, dctbl, actbl, 0)
    assert pred == 2047 and coef[0] == 2047
    with pytest.raises(ValueError, match="DC predictor out of range"):
        J._decode_sequential_block(reader, coef, dctbl, actbl, pred)


def test_progressive_dc_overflow_raises_valueerror():
    """The progressive DC-first path carries the same ±2047 predictor
    bound (the stored value is pred << Al into an int32 grid)."""
    from presto_cached_examples_spark.llm import jpeg as J

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, 16 * 16, dtype=np.uint8)
    jp = bytearray(encode_jpeg_progressive(img, 16, 16))
    # brute-force byte corruption over the first scan's entropy data:
    # every outcome must stay inside the ValueError/NotImplementedError
    # contract (specifically never OverflowError from the DC store)
    sos = jp.find(b"\xff\xda")
    for off in range(sos + 10, min(sos + 40, len(jp) - 2)):
        for val in (0x7F, 0xFE):
            mut = bytearray(jp)
            mut[off] = val
            try:
                decode_jpeg(bytes(mut))
            except (ValueError, NotImplementedError):
                pass


def test_progressive_missing_dc_scan_raises():
    """ADVICE r11: a progressive frame whose scans never delivered DC
    for a component must raise at EOI, not render flat mid-gray. Built
    by splicing the DC-first scan out of a valid stream (refinement /
    AC scans remain, so the grids stay touched — only DC-first is
    absent)."""
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, 24 * 16, dtype=np.uint8)
    jp = encode_jpeg_progressive(img, 24, 16)
    first = jp.find(b"\xff\xda")
    second = jp.find(b"\xff\xda", first + 2)
    assert first != -1 and second != -1, "need >=2 scans to splice"
    cut = jp[:first] + jp[second:]
    with pytest.raises(ValueError, match="undecoded components"):
        decode_jpeg(cut)
