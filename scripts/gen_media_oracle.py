"""Golden oracle table for the media (image) dedup driver gate.

Same stance as gen_audio_oracle.py: an independent implementation of the
identical spec, frozen as parquet for the DuckDB side of the driver gate.
Independence per stage:
  - PPM/BMP decode: pure-python byte walking (engine: numpy frombuffer
    parsers in operators/multimodal.py);
  - block featurization: numpy with the engine's expression shapes (the
    float stage — same acknowledged limitation as the audio oracle's FFT:
    an independent float evaluation order could flip a quantization bin on
    exact ties, so the spec's own ops are reused; everything integer
    downstream is independent);
  - shingle/minhash/simhash/banding/verify: tests/oracle.py python big-int
    implementations (engine: numpy uint64 + Spark joins).

Writes:
  tests/fixtures/media_images.parquet          (the deterministic corpus)
  tests/fixtures/oracle_media_confirmed.parquet (expected confirmed pairs)

Usage: python scripts/gen_media_oracle.py
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from consult_spark.config import Config
from consult_spark.datagen import generate_image_corpus_pandas
from tests.oracle import band_hash_list, minhash_set, poly_hash_windows, simhash_set, truncate32

FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures"
)
N_IMAGES = 120
SEED = 42


def decode_ppm_py(data: bytes) -> np.ndarray:
    """Pure-python P6 parser (no numpy in the parsing)."""
    assert data[:2] == b"P6"
    i, vals = 2, []
    while len(vals) < 3:
        while data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":
            while data[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while not data[j : j + 1].isspace():
            j += 1
        vals.append(int(data[i:j]))
        i = j
    i += 1
    w, h, maxval = vals
    assert maxval == 255
    px = [[[data[i + (y * w + x) * 3 + c] for c in range(3)] for x in range(w)] for y in range(h)]
    return np.array(px, dtype=np.uint8)


def decode_bmp_py(data: bytes) -> np.ndarray:
    """Pure-python 24-bit BI_RGB parser."""
    assert data[:2] == b"BM"
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    assert int.from_bytes(data[28:30], "little") == 24
    stride = (w * 3 + 3) & ~3
    rows = []
    for y in range(abs(h)):
        base = off + y * stride
        row = [[data[base + x * 3 + 2], data[base + x * 3 + 1], data[base + x * 3]]
               for x in range(w)]
        rows.append(row)
    if h > 0:
        rows.reverse()  # bottom-up
    return np.array(rows, dtype=np.uint8)


def decode_png_py(data: bytes) -> np.ndarray:
    """Pure-python PNG chunk walk + per-byte unfilter (engine: numpy
    row-vectorized unfilter in operators/multimodal._decode_png).  stdlib
    zlib performs the inflate on both sides — the independence lives in the
    chunk walk and the filter reconstruction, per the module docstring."""
    import zlib

    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos = 8
    w = h = color_type = None
    idat = b""
    while pos + 8 <= len(data):
        clen = int.from_bytes(data[pos : pos + 4], "big")
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if ctype == b"IHDR":
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            assert body[8] == 8  # bit depth
            color_type = body[9]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(idat)
    stride = w * nch
    recon: list[list[int]] = []
    for r in range(h):
        row_raw = raw[r * (1 + stride) : (r + 1) * (1 + stride)]
        ft, line = row_raw[0], list(row_raw[1:])
        out_row = [0] * stride
        for x in range(stride):
            a = out_row[x - nch] if x >= nch else 0
            b = recon[r - 1][x] if r > 0 else 0
            c = recon[r - 1][x - nch] if (r > 0 and x >= nch) else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            else:
                raise AssertionError(f"bad filter {ft}")
            out_row[x] = (line[x] + pred) % 256
        recon.append(out_row)
    # gray / gray+alpha replicate the luma channel; RGB/RGBA keep channels
    # 0..2 (alpha dropped) — same convention as the engine decoder
    px = [[[recon[y][x * nch + (0 if color_type in (0, 4) else c)] for c in range(3)]
           for x in range(w)] for y in range(h)]
    return np.array(px, dtype=np.uint8)


def decode_jpeg_py(data: bytes) -> np.ndarray:
    """Baseline JPEG via the stdlib-only oracle decoder in tests/test_jpeg
    (pure python huffman + per-pixel IDCT — independent of the engine's
    numpy decoder).  JPEG is the one LOSSY format in the rotation, so the
    golden truth is defined over the decoded (quantized) pixels; main()
    additionally asserts the engine decode is byte-identical to this oracle
    for every corpus image, which freezes the golden against float-rounding
    skew between the two IDCT implementations."""
    from tests.test_jpeg import oracle_decode_jpeg

    return np.array(oracle_decode_jpeg(data), dtype=np.uint8)


def decode_gif_py(data: bytes) -> np.ndarray:
    """Pure-python GIF87a/89a walk + LZW (engine: numpy table walk in
    operators/multimodal._decode_gif / _gif_lzw).  Integer-exact, so
    main() asserts engine == oracle byte-identically, same stance as
    JPEG.  Covers what the corpus writer emits: global color table,
    single non-interlaced full-screen frame, no transparency."""
    assert data[:6] in (b"GIF87a", b"GIF89a")
    w = int.from_bytes(data[6:8], "little")
    h = int.from_bytes(data[8:10], "little")
    flags = data[10]
    assert flags & 0x80
    gct_n = 2 << (flags & 7)
    pos = 13
    pal = [
        [data[pos + 3 * i], data[pos + 3 * i + 1], data[pos + 3 * i + 2]]
        for i in range(gct_n)
    ]
    pos += 3 * gct_n
    while data[pos] == 0x21:  # skip extensions
        pos += 2
        while data[pos]:
            pos += 1 + data[pos]
        pos += 1
    assert data[pos] == 0x2C
    iw = int.from_bytes(data[pos + 5 : pos + 7], "little")
    ih = int.from_bytes(data[pos + 7 : pos + 9], "little")
    assert (iw, ih) == (w, h) and not (data[pos + 9] & 0xC0)
    pos += 10
    mcs = data[pos]
    pos += 1
    stream = bytearray()
    while data[pos]:
        sz = data[pos]
        stream += data[pos + 1 : pos + 1 + sz]
        pos += 1 + sz
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = mcs + 1
    bitpos = 0
    out = bytearray()
    prev = None
    nbits = len(stream) * 8
    while bitpos + width <= nbits and len(out) < w * h:
        code = 0
        for k in range(width):
            code |= ((stream[(bitpos + k) >> 3] >> ((bitpos + k) & 7)) & 1) << k
        bitpos += width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        else:
            assert code == len(table)
            entry = prev + prev[:1]
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        out += entry
        prev = entry
    assert len(out) >= w * h
    px = [[pal[out[y * w + x]] for x in range(w)] for y in range(h)]
    return np.array(px, dtype=np.uint8)


_DECODERS_PY = {"ppm": decode_ppm_py, "bmp": decode_bmp_py,
                "png": decode_png_py, "jpeg": decode_jpeg_py,
                "gif": decode_gif_py}


def image_shingles_oracle(img: np.ndarray) -> set[int]:
    """The engine's block-feature spec (operators/multimodal.image_shingles),
    float stage in numpy (see module docstring), hashing via the independent
    python-int polynomial."""
    lum = img.astype(np.float64).mean(axis=2)
    h, w = lum.shape
    bh, bw = max(1, h // 8), max(1, w // 8)
    blocks = lum[: (h // bh) * bh, : (w // bw) * bw].reshape(h // bh, bh, w // bw, bw).mean(axis=(1, 3))
    q = np.clip(((blocks - np.median(blocks)) / 16.0) + 8, 0, 15).astype(np.uint64)
    flat = [int(v) for v in q.reshape(-1)]
    return set(poly_hash_windows(flat, min(4, len(flat))))


def main() -> None:
    cfg = Config()
    images = generate_image_corpus_pandas(N_IMAGES, SEED)

    sets: dict[str, set[int]] = {}
    sims: dict[str, int] = {}
    mins: dict[str, list[int]] = {}
    for t in images.itertuples(index=False):
        img = _DECODERS_PY[t.format](bytes(t.bytes))
        if t.format == "gif":
            # integer-exact format: engine and oracle must agree EXACTLY
            from consult_spark.operators import multimodal as MM

            eng = MM.decode_image(bytes(t.bytes), "gif")
            if not np.array_equal(eng, img):
                raise AssertionError(
                    f"{t.img_id}: engine/oracle GIF decode mismatch"
                )
        if t.format == "jpeg":
            # lossy format: freeze the golden only if engine == oracle decode
            # EXACTLY (see decode_jpeg_py docstring)
            from consult_spark.operators import multimodal as MM

            eng = MM.decode_image(bytes(t.bytes), "jpeg")
            if not np.array_equal(eng, img):
                raise AssertionError(
                    f"{t.img_id}: engine/oracle JPEG decode mismatch "
                    f"(max diff {np.abs(eng.astype(int) - img.astype(int)).max()}) "
                    "— golden would be unstable; adjust the corpus seed"
                )
        s = image_shingles_oracle(img)
        sets[t.img_id] = s
        mins[t.img_id] = minhash_set(s, cfg.n_hashes, cfg.minhash_seed)
        sims[t.img_id] = simhash_set(s, cfg.minhash_seed)

    buckets: dict[tuple[int, int], list[str]] = {}
    for iid, sig in mins.items():
        if not sets[iid]:
            continue
        for l, bh in enumerate(band_hash_list(sig, cfg.n_bands, cfg.rows_per_band, cfg.band_seed)):
            buckets.setdefault((l, bh), []).append(iid)

    counts: dict[tuple[str, str], int] = {}
    for members in buckets.values():
        members = sorted(members)[: cfg.bucket_cap]
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                p = (members[i], members[j])
                counts[p] = counts.get(p, 0) + 1

    thr = cfg.txt_jaccard_threshold
    out = []
    for (a, b), nb in sorted(counts.items()):
        if nb < cfg.min_common_bands:
            continue
        sa, sb = truncate32(sets[a]), truncate32(sets[b])
        ham = bin(sims[a] ^ sims[b]).count("1")
        na, nbn = len(sa), len(sb)
        # the engine's verify prunes (verify._channel_scores, the one scorer
        # every channel goes through): simhash prefilter + containment
        # bound run BEFORE the exact jaccard
        if ham > cfg.simhash_prefilter_max or min(na, nbn) < thr * max(na, nbn):
            continue
        inter = len(sa & sb)
        jac = inter / (na + nbn - inter) if (na or nbn) else 0.0
        if jac >= thr:
            out.append({
                "clip_a": a, "clip_b": b,
                "jaccard_micro": int(math.floor(1_000_000.0 * jac)),
                "hamming": ham,
            })

    pdf = pd.DataFrame(out).astype({"jaccard_micro": "int64", "hamming": "int64"})
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    images.to_parquet(os.path.join(FIXTURE_DIR, "media_images.parquet"), index=False)
    pdf.to_parquet(os.path.join(FIXTURE_DIR, "oracle_media_confirmed.parquet"), index=False)
    n_variants = sum(1 for i in images["img_id"] if i.endswith("_1"))
    print(f"images={len(images)} planted_variants={n_variants} "
          f"candidates={len(counts)} confirmed={len(pdf)}")


# ---------------------------------------------------------------------------
# video (y4m) oracle
# ---------------------------------------------------------------------------

def decode_y4m_py(data: bytes) -> list[np.ndarray]:
    """Pure-python YUV4MPEG2 container walk (engine: numpy frombuffer in
    operators/multimodal._sample_y4m); the YUV->RGB float stage reuses the
    spec's float32 numpy expression (module-docstring stance)."""
    nl = data.find(b"\n")
    fields = data[:nl].split()
    assert fields[0] == b"YUV4MPEG2"
    w = h = None
    fps = 25.0
    for f in fields[1:]:
        if f[:1] == b"W":
            w = int(f[1:])
        elif f[:1] == b"H":
            h = int(f[1:])
        elif f[:1] == b"F":
            num, den = f[1:].split(b":")
            fps = int(num) / int(den)
    csize = ((w + 1) // 2) * ((h + 1) // 2)  # ceil both dims, like the engine
    frame_bytes = w * h + 2 * csize
    step = max(1, int(round(fps * 1000 / 1000.0)))  # every_ms = 1000
    pos, idx, frames = nl + 1, 0, []
    while pos < len(data):
        fnl = data.find(b"\n", pos)
        assert data[pos:fnl].startswith(b"FRAME")
        pos = fnl + 1
        if idx % step == 0:
            y = np.array(
                [[data[pos + r * w + c] for c in range(w)] for r in range(h)], dtype=np.uint8
            )
            cw, ch = (w + 1) // 2, (h + 1) // 2
            ub = pos + w * h
            vb = ub + csize
            u = np.array([[data[ub + r * cw + c] for c in range(cw)] for r in range(ch)], dtype=np.uint8)
            v = np.array([[data[vb + r * cw + c] for c in range(cw)] for r in range(ch)], dtype=np.uint8)
            u2 = u.repeat(2, axis=0).repeat(2, axis=1)[:h, :w]
            v2 = v.repeat(2, axis=0).repeat(2, axis=1)[:h, :w]
            yf = 1.164 * (y.astype(np.float32) - 16.0)
            uf = u2.astype(np.float32) - 128.0
            vf = v2.astype(np.float32) - 128.0
            rgb = np.stack(
                [yf + 1.596 * vf, yf - 0.392 * uf - 0.813 * vf, yf + 2.017 * uf], axis=-1
            )
            frames.append(np.clip(rgb + 0.5, 0, 255).astype(np.uint8))
        pos += frame_bytes
        idx += 1
    return frames


def gen_video_golden() -> None:
    from consult_spark.datagen import generate_video_corpus_pandas

    cfg = Config()
    videos = generate_video_corpus_pandas(60, SEED)
    sets: dict[str, set[int]] = {}
    sims: dict[str, int] = {}
    mins: dict[str, list[int]] = {}
    for t in videos.itertuples(index=False):
        frames = decode_y4m_py(bytes(t.bytes))
        s: set[int] = set()
        for f in frames:
            s |= image_shingles_oracle(f)
        sets[t.vid_id] = s
        mins[t.vid_id] = minhash_set(s, cfg.n_hashes, cfg.minhash_seed)
        sims[t.vid_id] = simhash_set(s, cfg.minhash_seed)

    buckets: dict[tuple[int, int], list[str]] = {}
    for vid, sig in mins.items():
        if not sets[vid]:
            continue
        for l, bh in enumerate(band_hash_list(sig, cfg.n_bands, cfg.rows_per_band, cfg.band_seed)):
            buckets.setdefault((l, bh), []).append(vid)
    counts: dict[tuple[str, str], int] = {}
    for members in buckets.values():
        members = sorted(members)[: cfg.bucket_cap]
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                p = (members[i], members[j])
                counts[p] = counts.get(p, 0) + 1

    thr = cfg.txt_jaccard_threshold
    out = []
    for (a, b), nb in sorted(counts.items()):
        if nb < cfg.min_common_bands:
            continue
        sa, sb = truncate32(sets[a]), truncate32(sets[b])
        ham = bin(sims[a] ^ sims[b]).count("1")
        na, nbn = len(sa), len(sb)
        if ham > cfg.simhash_prefilter_max or min(na, nbn) < thr * max(na, nbn):
            continue
        inter = len(sa & sb)
        jac = inter / (na + nbn - inter) if (na or nbn) else 0.0
        if jac >= thr:
            out.append({"clip_a": a, "clip_b": b,
                        "jaccard_micro": int(math.floor(1_000_000.0 * jac)),
                        "hamming": ham})
    pdf = pd.DataFrame(out).astype({"jaccard_micro": "int64", "hamming": "int64"})
    videos.to_parquet(os.path.join(FIXTURE_DIR, "media_videos.parquet"), index=False)
    pdf.to_parquet(os.path.join(FIXTURE_DIR, "oracle_video_confirmed.parquet"), index=False)
    n_var = sum(1 for i in videos["vid_id"] if i.endswith("_1"))
    print(f"videos={len(videos)} planted_variants={n_var} "
          f"candidates={len(counts)} confirmed={len(pdf)}")


if __name__ == "__main__":
    main()
    gen_video_golden()
