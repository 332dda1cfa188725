"""Codec parity and timing harness for the JPEG and PNG codecs of one tree.

    python plans/jpeg_one_walk_parity.py TREE SF_DIR OUT.json [WILD_JPEG ...]
    python plans/jpeg_one_walk_parity.py --diff A.json B.json

Imports the engine from the checkout TREE and runs a fixed battery:
the exact-construction JPEG and PNG carriers of SF_DIR's documents,
every fourth MJPEG frame, all 256 single-byte values, the given wild
JPEG files, a grid of baseline, multi-scan and progressive streams
(1 and 3 components, 4:4:4 and 4:2:0, restart 0/1/3, five sizes,
three qualities), seeded bit flips and truncations of 15 of those
streams, and every legal PNG depth x colour type x filter x interlace
setting plus 1,000 PNG bit flips. It writes {case: sha256 of the
output, or "!Exception: message"} and in-process timings (min of 3)
to OUT.json. `--diff` compares two such files: successes by output
hash, failures by exception class.
"""

from __future__ import annotations

import hashlib
import json
import sys
import time


def _h(x) -> str:
    import numpy as np

    if isinstance(x, np.ndarray):
        x = x.dtype.str.encode() + repr(x.shape).encode() + x.tobytes()
    return hashlib.sha256(x).hexdigest()[:20]


def _outcome(fn, *a, **k) -> str:
    try:
        return _h(fn(*a, **k))
    except Exception as e:  # the class is the compared outcome
        return f"!{type(e).__name__}: {e}"


def _best(fn, n=3) -> float:
    best = float("inf")
    for _ in range(n):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return round(best, 4)


def run(tree: str, sf: str, out: str, wild: list[str]) -> None:
    sys.path.insert(0, tree)
    import numpy as np
    import pyarrow.parquet as pq

    from presto_cached_examples_spark.llm import jpeg as J
    from presto_cached_examples_spark.llm import multimodal as mm

    if hasattr(J, "encode_jpeg_multiscan"):
        multiscan = J.encode_jpeg_multiscan
    else:
        def multiscan(img, w, h, nc, q, sub, groups, ri):
            return J.encode_jpeg(img, w, h, nc, q, sub, ri, groups=groups)

    res: dict[str, str] = {}
    timing: dict[str, float] = {}

    # ---- sf carriers and MJPEG frames
    docs = pq.read_table(f"{sf}/documents.parquet").to_pandas()
    docs = docs.sort_values("doc_id")
    texts = [t.encode("utf-8") for t in docs["text"]]
    odd = [b for d, b in zip(docs["doc_id"], texts) if d % 2 and 1 <= len(b) <= 8191]
    even = [b for d, b in zip(docs["doc_id"], texts) if d % 2 == 0]
    carriers = [J.encode_bytes_exact(b) for b in odd]
    pngs = [mm._encode_png(np.frombuffer(b, np.uint8), len(b), 1, filter_type=1) for b in even]
    for i, c in enumerate(carriers):
        res[f"carrier_jpeg_enc/{i}"] = _h(c)
        res[f"carrier_jpeg_dec/{i}"] = _outcome(J.decode_jpeg, c)
    for i, p in enumerate(pngs):
        res[f"carrier_png_enc/{i}"] = _h(p)
        res[f"carrier_png_dec/{i}"] = _outcome(mm._decode_png, p)
    for i, b in enumerate(texts):
        if 1 <= len(b) <= 8191:
            res[f"doc_exact/{i}"] = _h(J.encode_bytes_exact(b))
    for v in range(256):
        res[f"byte_exact/{v}"] = _h(J.encode_bytes_exact(bytes([v])))
    frames = []
    for i, b in enumerate(texts):
        fr = J.encode_frames_exact(b, mm._FRAME_BYTES)
        res[f"frames_enc/{i}"] = _h(b"".join(fr))
        frames += fr[:: mm._FRAME_STRIDE]
    for i, f in enumerate(frames):
        res[f"frames_dec/{i}"] = _outcome(J.decode_jpeg, f)
    timing["n_carriers"] = len(carriers)
    timing["n_frames_sampled"] = len(frames)
    timing["carrier_jpeg_decode_s"] = _best(lambda: [J.decode_jpeg(c) for c in carriers])
    timing["frames_decode_s"] = _best(lambda: [J.decode_jpeg(f) for f in frames])
    timing["carrier_jpeg_encode_s"] = _best(lambda: [J.encode_bytes_exact(b) for b in odd])
    timing["frames_encode_s"] = _best(
        lambda: [J.encode_frames_exact(b, mm._FRAME_BYTES) for b in texts]
    )
    timing["carrier_png_decode_s"] = _best(lambda: [mm._decode_png(p) for p in pngs])
    timing["carrier_png_encode_s"] = _best(
        lambda: [mm._encode_png(np.frombuffer(b, np.uint8), len(b), 1, filter_type=1) for b in even]
    )

    # ---- wild files
    for path in wild:
        with open(path, "rb") as f:
            res[f"wild/{path.rsplit('/', 1)[-1]}"] = _outcome(J.decode_jpeg, f.read())

    # ---- synthetic grid: baseline, multi-scan, progressive
    grid_streams = []
    for nc in (1, 3):
        for sub in ("4:4:4", "4:2:0"):
            if nc == 1 and sub == "4:2:0":
                continue
            for w, h in ((1, 1), (8, 8), (13, 7), (37, 23), (40, 24)):
                for q in (100, 75, 50):
                    for ri in (0, 1, 3):
                        rng = np.random.RandomState(w * 1000 + h * 10 + nc)
                        img = rng.randint(0, 256, w * h * nc, dtype=np.uint8)
                        key = f"{nc}/{sub}/{w}x{h}/q{q}/ri{ri}"
                        enc = {
                            "base": J.encode_jpeg(img, w, h, nc, q, sub, ri),
                            "prog": J.encode_jpeg_progressive(
                                img, w, h, nc, q, sub, restart_interval=ri
                            ),
                        }
                        groups = [[[c] for c in range(nc)]]
                        if nc == 3:
                            groups += [[[0, 1], [2]], [[0, 1, 2]]]
                        for g in groups:
                            enc[f"multi{g}"] = multiscan(img, w, h, nc, q, sub, g, ri)
                        for name, b in enc.items():
                            res[f"grid_enc/{key}/{name}"] = _h(b)
                            res[f"grid_dec/{key}/{name}"] = _outcome(J.decode_jpeg, b)
                            grid_streams.append(b)

    # ---- corruption outcomes (bit flips and truncations)
    rng = np.random.RandomState(1234)
    pick = [grid_streams[i] for i in rng.choice(len(grid_streams), 10, replace=False)]
    pick += carriers[:5]
    for si, s in enumerate(pick):
        for t in range(200):
            b = bytearray(s)
            for _ in range(rng.randint(1, 6)):
                i = rng.randint(0, len(b))
                b[i] ^= 1 << rng.randint(0, 8)
            res[f"flip/{si}/{t}"] = _outcome(J.decode_jpeg, bytes(b))
        for cut in range(2, len(s), max(1, len(s) // 13)):
            res[f"trunc/{si}/{cut}"] = _outcome(J.decode_jpeg, s[:cut])

    # ---- PNG: every legal depth x colour type x filter x interlace
    legal = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
    png_cases = []
    for ct, depths in legal.items():
        ch = mm._PNG_CHANNELS[ct]
        for d in depths:
            for filt in range(5):
                for inter in (False, True):
                    for w, h in ((1, 1), (3, 2), (9, 7), (17, 11)):
                        rng = np.random.RandomState(ct * 100 + d * 10 + w + h)
                        hi = (1 << d) if ct != 3 else min(1 << d, 7)
                        s = rng.randint(0, hi, w * h * ch).astype(
                            np.uint16 if d == 16 else np.uint8
                        )
                        pal = bytes(range(21)) if ct == 3 else None
                        p = mm._encode_png(
                            s, w, h, ct, filt, pal, interlace=inter, depth=d
                        )
                        key = f"{ct}/{d}/f{filt}/i{int(inter)}/{w}x{h}"
                        res[f"png_enc/{key}"] = _h(p)
                        res[f"png_dec/{key}"] = _outcome(mm._decode_png, p)
                        png_cases.append(p)
    rng = np.random.RandomState(99)
    for t in range(1000):
        b = bytearray(png_cases[rng.randint(0, len(png_cases))])
        for _ in range(rng.randint(1, 4)):
            i = rng.randint(0, len(b))
            b[i] ^= 1 << rng.randint(0, 8)
        res[f"png_flip/{t}"] = _outcome(mm._decode_png, bytes(b))

    with open(out, "w") as f:
        json.dump({"results": res, "timing": timing}, f, indent=0, sort_keys=True)
    print(json.dumps(timing))


def _cls(outcome: str) -> str:
    """A success's output hash, or a failure's exception class."""
    return outcome.split(":", 1)[0]


def diff(a: str, b: str) -> None:
    A, B = (json.load(open(p)) for p in (a, b))
    ra, rb = A["results"], B["results"]
    assert ra.keys() == rb.keys(), sorted(ra.keys() ^ rb.keys())[:10]
    groups: dict[str, list[int]] = {}
    for k in ra:
        g = k.split("/", 1)[0]
        tot = groups.setdefault(g, [0, 0])
        tot[0] += 1
        tot[1] += _cls(ra[k]) == _cls(rb[k])
    for g, (n, same) in sorted(groups.items()):
        print(f"{g:20s} {same}/{n} identical")
    for k in ra:
        if _cls(ra[k]) != _cls(rb[k]):
            print("DIFF", k, ra[k], "->", rb[k])
    for k in A["timing"]:
        print(f"{k:24s} {A['timing'][k]} -> {B['timing'][k]}")


if __name__ == "__main__":
    if sys.argv[1] == "--diff":
        diff(sys.argv[2], sys.argv[3])
    else:
        run(sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:])
