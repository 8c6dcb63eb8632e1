"""Pluggable codec decoders: a registered decoder flows through featurize /
decode_ok / dedup with zero other changes — the one-line integration point
for compressed codecs once a decoder wheel is available (README recipe).
"""

from __future__ import annotations

import numpy as np

from consult_spark.functions import audio
from consult_spark.operators import shingle as SH


def _featurize_each_source(spark, clips, cfg, tmp_path):
    """features of ``clips`` from a DataFrame and from parquet files read by
    the workers: the decoder-registry snapshot must reach both."""
    path = str(tmp_path / "clips")
    clips.write.parquet(path)
    return {"dataframe": SH.featurize(clips, cfg),
            "parquet": SH.featurize_from_parquet(spark, path, cfg)}


def test_unregistered_compressed_codec_is_soft_error(spark, cfg):
    clips = spark.createDataFrame(
        [("c1", b"\x01\x02\x03\x04" * 8, 16000, 1000, "mp3", "hello world")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    got = {r["kind"]: r for r in SH.featurize(clips, cfg).collect()}
    assert not got["pcm"]["decode_ok"] and got["pcm"]["n_shingles"] == 0
    assert got["txt"]["decode_ok"]  # the other channel is unaffected


def test_registered_decoder_flows_through_featurize(spark, cfg, monkeypatch, tmp_path):
    # defined INSIDE the test: cloudpickle serializes closures by value, so
    # the worker processes get the decoder without importing the test module
    # (a real plug-in registers from a --py-files-shipped module instead)
    def fake_mp3(data: bytes):
        seed = int.from_bytes(data[:4].ljust(4, b"\0"), "little")
        rng = np.random.default_rng(seed)
        t = np.arange(16000, dtype=np.float32) / 16000.0
        f = 200.0 + (seed % 800)
        x = 0.4 * np.sin(2 * np.pi * f * t) + 0.02 * rng.standard_normal(16000).astype(np.float32)
        return x.astype(np.float32), 16000

    monkeypatch.setitem(audio._DECODERS, "mp3", fake_mp3)
    rows = [
        ("c1", b"\x01\x02\x03\x04" * 2048, 16000, 1000, "mp3", "a"),
        ("c2", b"\x01\x02\x03\x04" * 2048, 16000, 1000, "mp3", "b"),  # same payload
        ("c3", b"\x09\x08\x07\x06" * 2048, 16000, 1000, "mp3", "c"),
    ]
    clips = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    for source, df in _featurize_each_source(spark, clips, cfg, tmp_path).items():
        feats = {r["clip_id"]: r for r in df.filter("kind = 'pcm'").collect()}
        assert all(f["decode_ok"] for f in feats.values()), source
        assert feats["c1"]["n_shingles"] > 0, source
        assert tuple(feats["c1"]["shingles"]) == tuple(feats["c2"]["shingles"]), source
        assert tuple(feats["c1"]["shingles"]) != tuple(feats["c3"]["shingles"]), source


def test_registered_decoder_failure_stays_per_clip(spark, cfg, monkeypatch, tmp_path):
    def soft_fail(data: bytes):
        raise audio.AudioDecodeError("corrupt frame")

    monkeypatch.setitem(audio._DECODERS, "mp3", soft_fail)
    clips = spark.createDataFrame(
        [("c1", b"xx", 16000, 10, "mp3", "t")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    for source, df in _featurize_each_source(spark, clips, cfg, tmp_path).items():
        got = {r["kind"]: r for r in df.collect()}
        assert not got["pcm"]["decode_ok"], source
        assert got["txt"]["decode_ok"], source


# ---------------------------------------------------------------------------
# soundfile (libsndfile) recipe — the integration path for real lossy codecs.
# The wheel is absent from this image, so the wrapper logic is pinned with a
# stub module here and the real-library drive auto-skips (runs green wherever
# `pip install soundfile` has happened — same gating stance as the Iceberg
# jar test).


def test_register_soundfile_decoders_raises_cleanly_when_lib_absent():
    import importlib.util

    if importlib.util.find_spec("soundfile") is not None:
        import pytest

        pytest.skip("soundfile installed; covered by the real-lib test")
    import pytest

    with pytest.raises(ImportError):
        audio.register_soundfile_decoders()


def test_soundfile_wrapper_contract_via_stub(monkeypatch):
    """Pin the wrapper's behavior (mono downmix, sr passthrough, soft-fail
    re-raise) without the real library: a stub `soundfile` module stands in
    for libsndfile."""
    import sys
    import types

    calls = []

    def fake_read(fh, dtype, always_2d):
        data = fh.read()
        calls.append(data)
        if data == b"corrupt":
            raise RuntimeError("Format not recognised")
        # two channels whose mean is a ramp — checks the downmix axis
        n = 64
        ch0 = np.linspace(-0.5, 0.5, n, dtype=np.float32)
        ch1 = ch0 + 0.25
        return np.stack([ch0, ch1], axis=1), 22050

    stub = types.ModuleType("soundfile")
    stub.read = fake_read
    monkeypatch.setitem(sys.modules, "soundfile", stub)
    saved = dict(audio._DECODERS)
    try:
        registered = audio.register_soundfile_decoders(("mp3", "vorbis"))
        assert registered == ["mp3", "vorbis"]
        x, sr = audio._DECODERS["mp3"](b"payload")
        assert sr == 22050 and x.dtype == np.float32 and x.ndim == 1
        np.testing.assert_allclose(
            x, np.linspace(-0.5, 0.5, 64, dtype=np.float32) + 0.125, atol=1e-6
        )
        import pytest

        with pytest.raises(audio.AudioDecodeError):
            audio._DECODERS["vorbis"](b"corrupt")
    finally:
        audio._DECODERS.clear()
        audio._DECODERS.update(saved)


def test_soundfile_real_library_roundtrip(spark, cfg):
    """Auto-skipped in this image.  Where `soundfile` IS installed: encode a
    sine to OGG/vorbis with the library itself, decode through the registry,
    and drive featurize — decode_ok with a real shingle set."""
    import pytest

    sf_lib = pytest.importorskip("soundfile")
    import io as _io

    saved = dict(audio._DECODERS)
    try:
        audio.register_soundfile_decoders()
        sr = 16000
        t = np.arange(sr * 2, dtype=np.float32) / sr
        x = (0.4 * np.sin(2 * np.pi * 440.0 * t)).astype(np.float32)
        buf = _io.BytesIO()
        sf_lib.write(buf, x, sr, format="OGG", subtype="VORBIS")
        ogg = buf.getvalue()
        y, sr2 = audio._DECODERS["vorbis"](ogg)
        assert sr2 == sr and y.shape[0] > 0
        # lossy, but a pure tone at q~default must be well above 20 dB SNR
        n = min(x.shape[0], y.shape[0])
        err = x[:n] - y[:n]
        snr = 10 * np.log10(np.sum(x[:n] ** 2) / max(np.sum(err**2), 1e-12))
        assert snr >= 20.0, snr
        clips = spark.createDataFrame(
            [("c1", ogg, sr, 2000, "vorbis", "tone")],
            "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
        )
        got = {r["kind"]: r for r in SH.featurize(clips, cfg).collect()}
        assert got["pcm"]["decode_ok"] and got["pcm"]["n_shingles"] > 0
    finally:
        audio._DECODERS.clear()
        audio._DECODERS.update(saved)
