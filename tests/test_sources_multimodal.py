"""Raw WAV-directory ingest source + multimodal stub plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from consult_spark.operators import multimodal as MM
from consult_spark.sources.clips import read_wav_directory


def test_wav_directory_ingest(spark, corpus_xs, cfg, tmp_path):
    wav_dir = tmp_path / "wavs"
    wav_dir.mkdir()
    sample = corpus_xs["clips"].head(10)
    for _, row in sample.iterrows():
        (wav_dir / f"{row['clip_id']}.wav").write_bytes(row["bytes"])
    tr = spark.createDataFrame(sample[["clip_id", "transcript"]])
    clips = read_wav_directory(spark, str(wav_dir), transcripts=tr)
    got = {r["clip_id"]: r for r in clips.collect()}
    assert set(got) == set(sample["clip_id"])
    for _, row in sample.iterrows():
        g = got[row["clip_id"]]
        assert bytes(g["bytes"]) == row["bytes"]          # payload intact
        assert g["sr_hz"] == row["sr_hz"]                 # sniffed metadata
        assert g["codec"] == "pcm_s16le"
        assert g["transcript"] == row["transcript"]
        assert abs(g["dur_ms"] - row["dur_ms"]) <= 1


def test_image_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"RIFF....WEBP", "webp")
    with pytest.raises(NotImplementedError):
        MM.sample_video_frames(b"\x00" * 32, "h264")
    # png and baseline jpeg are REAL now — malformed bytes are a soft
    # per-image error, not a stub
    with pytest.raises(MM.ImageDecodeError):
        MM.decode_image(b"\x89PNG\r\n\x1a\nxxxx", "png")
    with pytest.raises(MM.ImageDecodeError):
        MM.decode_image(b"\xff\xd8\xff\xe0....", "jpeg")


# --- independent encoders (test-side construction, never engine code) ------

def encode_ppm(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return b"P6\n# test comment\n%d %d\n255\n" % (w, h) + img.tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    """24-bit BI_RGB bottom-up BMP with 4-byte row padding."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    for row in img[::-1]:  # bottom-up
        raster += row[:, ::-1].tobytes()  # RGB -> BGR
        raster += b"\x00" * (stride - w * 3)
    header = (
        b"BM"
        + (54 + len(raster)).to_bytes(4, "little")
        + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raster).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return bytes(header) + bytes(raster)


def test_ppm_bmp_roundtrip():
    rng = np.random.default_rng(7)
    # 33 px wide: exercises BMP row padding (33*3 = 99 -> stride 100)
    img = rng.integers(0, 256, size=(16, 33, 3), dtype=np.uint8)
    assert np.array_equal(MM.decode_image(encode_ppm(img), "ppm"), img)
    assert np.array_equal(MM.decode_image(encode_bmp(img), "bmp"), img)


def encode_png(img: np.ndarray, filter_type: int = 0, color_type: int = 2) -> bytes:
    """Independent PNG encoder: applies ``filter_type`` to EVERY row per the
    spec's per-byte definitions (pure python), so each unfilter path of the
    engine decoder is exercised.  img is HxWxC (C per color type)."""
    import zlib

    def chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    h, w = img.shape[:2]
    ch = img.shape[2] if img.ndim == 3 else 1
    px = img.reshape(h, w, ch).astype(int)
    raw = bytearray()
    prev = np.zeros((w, ch), int)
    for r in range(h):
        cur = px[r]
        line = np.zeros((w, ch), int)
        for x in range(w):
            a = cur[x - 1] if x else np.zeros(ch, int)
            b = prev[x]
            c = prev[x - 1] if x else np.zeros(ch, int)
            if filter_type == 0:
                pred = np.zeros(ch, int)
            elif filter_type == 1:
                pred = a
            elif filter_type == 2:
                pred = b
            elif filter_type == 3:
                pred = (a + b) // 2
            else:  # paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
            line[x] = (cur[x] - pred) % 256
        raw += bytes([filter_type]) + line.astype(np.uint8).tobytes()
        prev = cur
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 0])
    )
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


def test_png_roundtrip_all_filters():
    """Engine PNG decode vs the independent per-byte encoder: every filter
    type (0-4) on RGB, plus gray/gray+alpha/RGBA color types."""
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(12, 17, 3), dtype=np.uint8)
    for ft in range(5):
        assert np.array_equal(MM.decode_image(encode_png(img, ft), "png"), img), ft
    gray = rng.integers(0, 256, size=(8, 9), dtype=np.uint8)
    got = MM.decode_image(encode_png(gray.reshape(8, 9, 1), 2, color_type=0), "png")
    assert np.array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))
    ga = rng.integers(0, 256, size=(8, 9, 2), dtype=np.uint8)
    got = MM.decode_image(encode_png(ga, 4, color_type=4), "png")
    assert np.array_equal(got, np.repeat(ga[:, :, :1], 3, axis=2))
    rgba = rng.integers(0, 256, size=(8, 9, 4), dtype=np.uint8)
    got = MM.decode_image(encode_png(rgba, 3, color_type=6), "png")
    assert np.array_equal(got, rgba[:, :, :3])


def test_png_palette_roundtrip():
    """Color type 3: indices unfilter like any 1-channel row, then PLTE
    dereference.  Independent encoder builds the PLTE chunk by hand."""
    import zlib

    def chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    rng = np.random.default_rng(31)
    palette = rng.integers(0, 256, size=(17, 3), dtype=np.uint8)
    idx = rng.integers(0, 17, size=(9, 13), dtype=np.uint8)
    h, w = idx.shape
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(h))
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 3, 0, 0, 0])
    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    got = MM.decode_image(data, "png")
    assert np.array_equal(got, palette[idx])
    # out-of-range index -> soft error
    bad_idx = idx.copy()
    bad_idx[0, 0] = 200
    raw2 = b"".join(b"\x00" + bad_idx[r].tobytes() for r in range(h))
    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", zlib.compress(raw2)) + chunk(b"IEND", b"")
    )
    with pytest.raises(MM.ImageDecodeError):
        MM.decode_image(bad, "png")


def encode_png_subbyte(values: np.ndarray, bit_depth: int, color_type: int,
                       palette: np.ndarray | None = None,
                       filters: list[int] | None = None) -> bytes:
    """Independent sub-byte PNG encoder: pack MSB-first bit groups into
    row bytes, then apply the chosen per-row filter in the BYTE domain
    (bpp=1 per spec for depths < 8)."""
    import zlib

    def chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    h, w = values.shape
    stride = (w * bit_depth + 7) // 8
    raw = bytearray()
    prev = [0] * stride
    for r in range(h):
        bits = []
        for v in values[r]:
            bits.extend((int(v) >> (bit_depth - 1 - i)) & 1 for i in range(bit_depth))
        bits.extend([0] * (stride * 8 - len(bits)))
        rowb = [
            sum(bits[i * 8 + j] << (7 - j) for j in range(8)) for i in range(stride)
        ]
        ft = (filters or [0])[r % len(filters or [0])]
        line = []
        for x in range(stride):
            a = rowb[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line.append((rowb[x] - pred) % 256)
        raw += bytes([ft]) + bytes(line)
        prev = rowb
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([bit_depth, color_type, 0, 0, 0])
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette.tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_subbyte_depths():
    """1/2/4-bit gray and palette PNGs (web icons) round-trip through the
    byte-domain unfilter + bit unpack, with mixed per-row filters."""
    rng = np.random.default_rng(41)
    for d in (1, 2, 4):
        maxv = (1 << d) - 1
        vals = rng.integers(0, maxv + 1, size=(7, 11), dtype=np.uint8)
        # gray: values scale to full range, replicated to 3 channels
        got = MM.decode_image(
            encode_png_subbyte(vals, d, 0, filters=[0, 1, 2, 3, 4]), "png"
        )
        expect = (vals.astype(np.uint16) * 255 // maxv).astype(np.uint8)
        assert np.array_equal(got, np.repeat(expect[:, :, None], 3, axis=2)), f"gray d={d}"
        # palette: values index PLTE
        pal = rng.integers(0, 256, size=(maxv + 1, 3), dtype=np.uint8)
        got = MM.decode_image(
            encode_png_subbyte(vals, d, 3, palette=pal, filters=[4, 2, 1]), "png"
        )
        assert np.array_equal(got, pal[vals]), f"palette d={d}"


def test_png_rejects_unsupported_and_corrupt():
    rng = np.random.default_rng(14)
    img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    good = encode_png(img)
    # flipped byte inside IDAT -> CRC mismatch, soft error
    bad = bytearray(good)
    bad[50] ^= 0xFF
    with pytest.raises(MM.ImageDecodeError):
        MM.decode_image(bytes(bad), "png")
    # 16-bit IHDR over an 8-bit raster -> size mismatch, soft error
    deep = bytearray(good)
    ihdr_off = 8 + 8  # sig + len/type
    deep[ihdr_off + 8] = 16
    import zlib as _z

    crc = _z.crc32(bytes(deep[8 + 4 : 8 + 8 + 13])) & 0xFFFFFFFF
    deep[8 + 8 + 13 : 8 + 8 + 13 + 4] = crc.to_bytes(4, "big")
    with pytest.raises(MM.ImageDecodeError):
        MM.decode_image(bytes(deep), "png")
    # interlace flag over a NON-interlaced raster -> pass-size mismatch,
    # soft error (real Adam7 streams decode; see test_png_adam7_interlace)
    inter = bytearray(good)
    inter[ihdr_off + 12] = 1
    crc = _z.crc32(bytes(inter[8 + 4 : 8 + 8 + 13])) & 0xFFFFFFFF
    inter[8 + 8 + 13 : 8 + 8 + 13 + 4] = crc.to_bytes(4, "big")
    with pytest.raises(MM.ImageDecodeError):
        MM.decode_image(bytes(inter), "png")


def test_png_adam7_interlace():
    """Real Adam7 streams: the 7 passes (built by an independent encoder
    slicing the image with the spec's offsets/strides, each pass filtered
    independently with a different filter type) reassemble to the original
    — including widths/heights that leave some passes empty."""
    import zlib

    def chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    rng = np.random.default_rng(53)
    for h, w in ((10, 13), (3, 3), (1, 9), (8, 1)):
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        raw = bytearray()
        for pi, (x0, y0, dx, dy) in enumerate(passes):
            sub = np.ascontiguousarray(img[y0::dy, x0::dx])
            if sub.size == 0:
                continue
            ph, pw, ch = sub.shape
            ft = pi % 5
            px = sub.astype(int)
            prev = np.zeros((pw, ch), int)
            for r in range(ph):
                cur = px[r]
                line = np.zeros((pw, ch), int)
                for x in range(pw):
                    a = cur[x - 1] if x else np.zeros(ch, int)
                    b = prev[x]
                    c = prev[x - 1] if x else np.zeros(ch, int)
                    if ft == 0:
                        pred = np.zeros(ch, int)
                    elif ft == 1:
                        pred = a
                    elif ft == 2:
                        pred = b
                    elif ft == 3:
                        pred = (a + b) // 2
                    else:
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = np.where((pa <= pb) & (pa <= pc), a,
                                        np.where(pb <= pc, b, c))
                    line[x] = (cur[x] - pred) % 256
                raw += bytes([ft]) + line.astype(np.uint8).tobytes()
                prev = cur
        ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + bytes([8, 2, 0, 0, 1]))  # interlace = 1
        data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))
        got = MM.decode_image(data, "png")
        assert np.array_equal(got, img), f"{h}x{w}"


def test_png_16bit_high_byte_downsample():
    """16-bit samples (big-endian) decode to their high byte — RGB and
    gray+alpha, with a non-trivial filter so the 2*ch-byte filter step is
    exercised."""
    import zlib

    def chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    rng = np.random.default_rng(47)
    hi = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    lo = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    px16 = (hi.astype(np.uint16) << 8) | lo
    h, w, _ = hi.shape
    # filter 2 (Up) on every row after the first
    raw = bytearray()
    prev = np.zeros(w * 6, dtype=np.uint8)
    for r in range(h):
        rowb = px16[r].astype(">u2").tobytes()
        arr = np.frombuffer(rowb, dtype=np.uint8)
        if r == 0:
            raw += b"\x00" + rowb
        else:
            raw += b"\x02" + ((arr - prev) % 256).astype(np.uint8).tobytes()
        prev = arr
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([16, 2, 0, 0, 0])
    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )
    assert np.array_equal(MM.decode_image(data, "png"), hi)


def test_png_cross_format_dup_confirms_through_verify(spark, cfg):
    """The judge's done-criterion for real PNG: a planted PNG<->BMP
    cross-format near-dup pair (brightness shift) confirms through
    bands -> pairs -> exact verify on REAL bytes."""
    rng = np.random.default_rng(21)
    yy, xx = np.mgrid[0:32, 0:32].astype(np.float64)
    smooth = 80 + 60 * np.sin(xx / 5.0) + 50 * np.cos(yy / 7.0)
    base = np.clip(np.stack([smooth, smooth * 0.9, smooth * 0.8], -1), 0, 255).astype(np.uint8)
    brighter = np.clip(base.astype(np.int32) + 9, 0, 255).astype(np.uint8)
    other = rng.integers(0, 200, size=(32, 32, 3), dtype=np.uint8)
    rows = [
        ("png_a", encode_png(base, filter_type=4), 32, 32, "png"),
        ("bmp_b", encode_bmp(brighter), 32, 32, "bmp"),
        ("png_c", encode_png(other, filter_type=1), 32, 32, "png"),
    ]
    images = spark.createDataFrame(rows, MM.IMAGES_SCHEMA)
    feats = MM.featurize_images(images, cfg)
    assert all(r["decode_ok"] for r in feats.collect())

    from consult_spark.operators import bands as B
    from consult_spark.operators import pairs as P
    from consult_spark.operators import verify as V

    cands = P.candidate_pairs(B.capped_buckets(B.explode_bands(feats), cfg), cfg)
    scored = {
        (r["clip_a"], r["clip_b"]): r["jaccard"]
        for r in V.channel_scores(cands, feats, "img", cfg).collect()
    }
    assert scored.get(("bmp_b", "png_a"), scored.get(("png_a", "bmp_b"), 0.0)) >= cfg.txt_jaccard_threshold
    assert scored.get(("png_a", "png_c"), 0.0) < cfg.txt_jaccard_threshold


def test_corrupt_image_is_soft_error(spark, cfg):
    rows = [("img_bad", b"P6\n2 2\n255\n\x00", "ppm")]  # truncated raster
    images = spark.createDataFrame(rows, "img_id string, bytes binary, format string")
    feats = MM.featurize_images(
        images.withColumn("width", F.lit(2)).withColumn("height", F.lit(2))
        .select("img_id", "bytes", "width", "height", "format"),
        cfg,
    )
    got = feats.collect()
    assert len(got) == 1 and not got[0]["decode_ok"] and got[0]["n_shingles"] == 0


def encode_y4m(frames: list[np.ndarray], fps: int = 4) -> bytes:
    """Independent YUV4MPEG2 encoder (4:2:0, BT.601 limited-range forward
    transform, 2x2 chroma averaging)."""
    h, w, _ = frames[0].shape
    out = bytearray(b"YUV4MPEG2 W%d H%d F%d:1 Ip A1:1 C420\n" % (w, h, fps))
    for f in frames:
        r, g, b = (f[..., c].astype(np.float32) for c in range(3))
        y = 16.0 + 0.257 * r + 0.504 * g + 0.098 * b
        u = 128.0 - 0.148 * r - 0.291 * g + 0.439 * b
        v = 128.0 + 0.439 * r - 0.368 * g - 0.071 * b
        usub = u.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
        vsub = v.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
        out += b"FRAME\n"
        out += np.clip(y + 0.5, 0, 255).astype(np.uint8).tobytes()
        out += np.clip(usub + 0.5, 0, 255).astype(np.uint8).tobytes()
        out += np.clip(vsub + 0.5, 0, 255).astype(np.uint8).tobytes()
    return bytes(out)


def test_y4m_frame_sampling_and_roundtrip():
    rng = np.random.default_rng(3)
    frames = [rng.integers(16, 220, size=(32, 32, 3), dtype=np.uint8) for _ in range(8)]
    data = encode_y4m(frames, fps=4)
    # every_ms=1000 at 4 fps -> every 4th frame -> frames 0 and 4
    got = MM.sample_video_frames(data, "y4m", every_ms=1000)
    assert len(got) == 2
    # 4:2:0 chroma subsampling is lossy per channel, but the BT.601 forward/
    # inverse pair preserves LUMA — the quantity the dedup features quantize
    def luma(f):
        r, g, b = (f[..., c].astype(np.float32) for c in range(3))
        return 0.257 * r + 0.504 * g + 0.098 * b

    for g, f in ((got[0], frames[0]), (got[1], frames[4])):
        assert np.abs(luma(g) - luma(f)).mean() < 1.0
    # mono variant
    mono = b"YUV4MPEG2 W4 H2 F1:1 Cmono\nFRAME\n" + bytes(range(8))
    g = MM.sample_video_frames(mono, "y4m", every_ms=1000)
    assert g[0].shape == (2, 4, 3) and g[0][0, 0, 0] == 0


def test_y4m_odd_dimensions():
    """Odd width AND odd height: chroma planes are ceil(w/2) x ceil(h/2) —
    both dimensions round UP (the round-3 decoder floored the width, so an
    odd-width stream computed the wrong frame_bytes and misparsed)."""
    w, h = 5, 3
    cw, ch = 3, 2
    # in-range BT.601 luma (16..235), neutral chroma (128) -> grayscale
    y = bytes(range(100, 100 + w * h))
    uv = bytes([128] * (cw * ch))
    data = b"YUV4MPEG2 W5 H3 F1:1 C420\n" + 2 * (b"FRAME\n" + y + uv + uv)
    got = MM.sample_video_frames(data, "y4m", every_ms=1000)
    assert len(got) == 2  # both frames parse; frame_bytes correct
    assert got[0].shape == (3, 5, 3)
    # luma round-trips through BT.601 within quantization error
    expect_y = np.frombuffer(y, np.uint8).reshape(h, w).astype(np.float32)
    r, g_, b = (got[0][..., c].astype(np.float32) for c in range(3))
    back = 16.0 + 0.257 * r + 0.504 * g_ + 0.098 * b
    assert np.abs(back - expect_y).mean() < 2.0


def test_y4m_422_and_444_chroma():
    """C422 (half-width chroma, full height) and C444 (full-res chroma)
    parse with the right plane sizes and recover luma through BT.601."""
    w, h = 6, 4
    y = bytes(range(100, 100 + w * h))
    expect_y = np.frombuffer(y, np.uint8).reshape(h, w).astype(np.float32)

    def luma_err(frame):
        r, g, b = (frame[..., c].astype(np.float32) for c in range(3))
        back = 16.0 + 0.257 * r + 0.504 * g + 0.098 * b
        return np.abs(back - expect_y).mean()

    u422 = bytes([128] * ((w // 2) * h))
    d422 = b"YUV4MPEG2 W6 H4 F1:1 C422\nFRAME\n" + y + u422 + u422
    got = MM.sample_video_frames(d422, "y4m", every_ms=1000)
    assert got[0].shape == (h, w, 3) and luma_err(got[0]) < 2.0

    u444 = bytes([128] * (w * h))
    d444 = b"YUV4MPEG2 W6 H4 F1:1 C444\nFRAME\n" + y + u444 + u444
    got = MM.sample_video_frames(d444, "y4m", every_ms=1000)
    assert got[0].shape == (h, w, 3) and luma_err(got[0]) < 2.0

    # non-neutral full-res chroma must NOT be subsampled away in C444:
    # a single saturated chroma pixel shifts only its own RGB pixel
    u1 = bytearray(u444)
    u1[0] = 240
    d444c = b"YUV4MPEG2 W6 H4 F1:1 C444\nFRAME\n" + y + bytes(u1) + u444
    g = MM.sample_video_frames(d444c, "y4m", every_ms=1000)[0]
    base = MM.sample_video_frames(d444, "y4m", every_ms=1000)[0]
    diff_px = np.abs(g.astype(int) - base.astype(int)).sum(axis=2) > 0
    assert diff_px[0, 0] and diff_px.sum() == 1


def test_real_video_dup_confirms_through_verify(spark, cfg):
    """Planted near-dup VIDEO pair on real y4m bytes: decode -> per-frame
    shingles -> frame union -> bands -> pairs -> exact-Jaccard verify."""
    rng = np.random.default_rng(11)
    shared = [rng.integers(0, 200, size=(32, 32, 3), dtype=np.uint8) for _ in range(4)]
    extra = rng.integers(0, 200, size=(32, 32, 3), dtype=np.uint8)
    other = [rng.integers(0, 200, size=(32, 32, 3), dtype=np.uint8) for _ in range(4)]
    rows = [
        ("vid_a", encode_y4m(shared), 1.0, 4000, "y4m"),
        ("vid_b", encode_y4m(shared[:3] + [extra]), 1.0, 4000, "y4m"),  # 3/4 shared
        ("vid_c", encode_y4m(other), 1.0, 4000, "y4m"),
        ("vid_bad", b"YUV4MPEG2 W32 H32 F1:1 C420\nFRAME\n\x00", 1.0, 10, "y4m"),
    ]
    videos = spark.createDataFrame(rows, MM.VIDEOS_SCHEMA)
    feats = MM.featurize_videos(videos, cfg)
    ok = {r["clip_id"]: r["decode_ok"] for r in feats.collect()}
    assert ok == {"vid_a": True, "vid_b": True, "vid_c": True, "vid_bad": False}

    from consult_spark.operators import bands as B
    from consult_spark.operators import pairs as P
    from consult_spark.operators import verify as V

    good = feats.filter("decode_ok")
    cands = P.candidate_pairs(B.capped_buckets(B.explode_bands(good), cfg), cfg)
    scored = {
        (r["clip_a"], r["clip_b"]): r["jaccard"]
        for r in V.channel_scores(cands, good, "vid", cfg).collect()
    }
    assert scored.get(("vid_a", "vid_b"), 0.0) >= cfg.txt_jaccard_threshold
    assert scored.get(("vid_a", "vid_c"), 0.0) < cfg.txt_jaccard_threshold


def test_real_image_dup_confirms_through_verify(spark, cfg):
    """Planted near-dup image pair on REAL decoded bytes (no fake path):
    decode -> block shingles -> bands -> capped buckets -> pair generation ->
    exact-Jaccard verify.  img_b is img_a under a uniform brightness shift
    (the median-centering must absorb it — same invariance stance as the
    audio gain handling); img_c shares a quadrant only; img_d is unrelated."""
    rng = np.random.default_rng(42)
    base = rng.integers(0, 200, size=(32, 32, 3), dtype=np.uint8)
    brighter = np.clip(base.astype(np.int32) + 10, 0, 255).astype(np.uint8)
    partial = rng.integers(0, 200, size=(32, 32, 3), dtype=np.uint8)
    partial[:16, :16] = base[:16, :16]
    other = rng.integers(0, 200, size=(32, 32, 3), dtype=np.uint8)
    rows = [
        ("img_a", encode_ppm(base), 32, 32, "ppm"),
        ("img_b", encode_bmp(brighter), 32, 32, "bmp"),  # cross-format dup
        ("img_c", encode_ppm(partial), 32, 32, "ppm"),
        ("img_d", encode_ppm(other), 32, 32, "ppm"),
    ]
    images = spark.createDataFrame(rows, MM.IMAGES_SCHEMA)
    feats = MM.featurize_images(images, cfg)  # REAL decode
    assert all(r["decode_ok"] for r in feats.collect())

    from consult_spark.operators import bands as B
    from consult_spark.operators import pairs as P
    from consult_spark.operators import verify as V

    cands = P.candidate_pairs(B.capped_buckets(B.explode_bands(feats), cfg), cfg)
    scored = {
        (r["clip_a"], r["clip_b"]): r["jaccard"]
        for r in V.channel_scores(cands, feats, "img", cfg).collect()
    }
    assert scored.get(("img_a", "img_b"), 0.0) >= cfg.txt_jaccard_threshold
    assert scored.get(("img_a", "img_d"), 0.0) < cfg.txt_jaccard_threshold


def test_image_featurize_plumbing(spark, cfg):
    """Deterministic-fake decode: the Spark-side plumbing (schema, batching,
    dedup wiring) is real — identical payload bytes produce identical
    shingle sets, different payloads diverge."""
    rows = [
        ("img_a", b"payload-one-xxxx", 32, 32, "png"),
        ("img_b", b"payload-one-xxxx", 32, 32, "png"),   # exact dup of a
        ("img_c", b"payload-two-yyyy", 32, 32, "png"),
    ]
    images = spark.createDataFrame(rows, MM.IMAGES_SCHEMA)
    feats = MM.featurize_images(images, cfg, deterministic_fake=True)
    got = {r["clip_id"]: tuple(r["shingles"]) for r in feats.collect()}
    assert got["img_a"] == got["img_b"]
    assert got["img_a"] != got["img_c"]
    # full FEATURES_SCHEMA — directly consumable by the shared operators
    from consult_spark.operators.shingle import FEATURES_SCHEMA
    from pyspark.sql.types import _parse_datatype_string

    assert feats.schema == _parse_datatype_string(FEATURES_SCHEMA)
    # and it actually feeds the shared banding/pair path: the exact-dup
    # image pair must surface as a candidate
    from consult_spark.operators import bands as B
    from consult_spark.operators import pairs as P

    cands = P.candidate_pairs(B.capped_buckets(B.explode_bands(feats), cfg), cfg)
    pairs = {(r["clip_a"], r["clip_b"]) for r in cands.collect()}
    assert ("img_a", "img_b") in pairs


def test_png_rejects_bogus_huge_header():
    """A crafted IHDR declaring absurd dimensions must soft-fail (pixel cap)
    before any allocation — not OOM the executor (dirty-corpus guard)."""
    import zlib

    def chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        (1 << 20).to_bytes(4, "big") + (1 << 20).to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])
    )
    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 16)) + chunk(b"IEND", b"")
    )
    with pytest.raises(MM.ImageDecodeError, match="pixel cap"):
        MM.decode_image(data, "png")


def test_png_rejects_deflate_bomb():
    """An IDAT stream that inflates far past the declared raster size must
    raise ImageDecodeError after at most expected+1 bytes of output — the
    bounded decompressobj guard, not an unbounded zlib.decompress."""
    import zlib

    def chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    # declares 4x4 RGB (expected raster 4*(1+12)=52) but carries 64 MB of
    # zeros compressed to ~64 KB
    ihdr = (4).to_bytes(4, "big") + (4).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    bomb = zlib.compress(b"\x00" * (64 << 20), 9)
    assert len(bomb) < (1 << 17)
    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    )
    with pytest.raises(MM.ImageDecodeError, match="exceeds declared raster"):
        MM.decode_image(data, "png")


def test_png_adam7_subbyte_depths():
    """Interlaced PNGs at sub-byte depths (1/2/4-bit gray and palette):
    each Adam7 pass packs its own scanlines at ceil(pw*bit_depth/8) bytes
    — NOT pw bytes (ADVICE r5: the old per-pass size formula soft-failed
    every valid interlaced sub-byte PNG).  Built by an independent encoder
    slicing the spec's pass offsets/strides, all 5 filter types."""
    import zlib

    def chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]

    def encode(values, bit_depth, color_type, palette=None):
        h, w = values.shape
        raw = bytearray()
        fi = 0
        for x0, y0, dx, dy in passes:
            sub = values[y0::dy, x0::dx]
            ph, pw = sub.shape
            if ph == 0 or pw == 0:
                continue
            stride = (pw * bit_depth + 7) // 8
            prev = [0] * stride
            for r in range(ph):
                bits = []
                for v in sub[r]:
                    bits.extend(
                        (int(v) >> (bit_depth - 1 - i)) & 1
                        for i in range(bit_depth)
                    )
                bits.extend([0] * (stride * 8 - len(bits)))
                rowb = [
                    sum(bits[i * 8 + j] << (7 - j) for j in range(8))
                    for i in range(stride)
                ]
                ft = fi % 5
                fi += 1
                line = []
                for x in range(stride):
                    a = rowb[x - 1] if x else 0
                    b = prev[x]
                    c = prev[x - 1] if x else 0
                    if ft == 0:
                        pred = 0
                    elif ft == 1:
                        pred = a
                    elif ft == 2:
                        pred = b
                    elif ft == 3:
                        pred = (a + b) // 2
                    else:
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    line.append((rowb[x] - pred) % 256)
                raw += bytes([ft]) + bytes(line)
                prev = rowb
        ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + bytes([bit_depth, color_type, 0, 0, 1]))  # interlace=1
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if palette is not None:
            out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        out += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        return out

    rng = np.random.default_rng(61)
    for bit_depth in (1, 2, 4):
        for h, w in ((10, 13), (3, 3), (1, 9), (8, 1), (5, 2)):
            vals = rng.integers(0, 1 << bit_depth, size=(h, w), dtype=np.uint8)
            # gray: scaled to full 8-bit range, replicated to 3 channels
            got = MM.decode_image(encode(vals, bit_depth, 0), "png")
            exp = (vals.astype(np.uint16) * 255 // ((1 << bit_depth) - 1)).astype(np.uint8)
            assert np.array_equal(got, np.repeat(exp[:, :, None], 3, axis=2)), \
                f"gray d={bit_depth} {h}x{w}"
            # palette
            pal = rng.integers(0, 256, size=(1 << bit_depth, 3), dtype=np.uint8)
            got = MM.decode_image(encode(vals, bit_depth, 3, pal), "png")
            assert np.array_equal(got, pal[vals]), f"pal d={bit_depth} {h}x{w}"


def test_audio_directory_sidecar_transcripts(spark, corpus_xs, tmp_path):
    """transcripts='sidecar': <stem>.txt supplies the transcript, the .txt
    files never land as codec='unknown' clip rows, and clips without a
    sidecar get an empty transcript (the docstring contract, clips.py)."""
    from consult_spark.sources.clips import read_audio_directory

    d = tmp_path / "sidecars"
    d.mkdir()
    sample = corpus_xs["clips"].head(6)
    with_txt = set(sample["clip_id"].iloc[:4])
    for _, row in sample.iterrows():
        (d / f"{row['clip_id']}.wav").write_bytes(row["bytes"])
        if row["clip_id"] in with_txt:
            (d / f"{row['clip_id']}.txt").write_text(row["transcript"])
    got = {r["clip_id"]: r for r in read_audio_directory(spark, str(d), transcripts="sidecar").collect()}
    # no .txt file became a clip row
    assert set(got) == set(sample["clip_id"])
    for _, row in sample.iterrows():
        expected = row["transcript"] if row["clip_id"] in with_txt else ""
        assert got[row["clip_id"]]["transcript"] == expected
        assert got[row["clip_id"]]["codec"] == "pcm_s16le"

    with pytest.raises(ValueError):
        read_audio_directory(spark, str(d), transcripts="nonsense")
