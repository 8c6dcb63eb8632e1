"""Decode + shingle + signature stage (mapInPandas): one featurize driver
for every modality and every source.

One Arrow-batched pass over an items table produces, per item and kind:
the distinct shingle-hash set, the MinHash signature, the SimHash
fingerprint, and the per-band LSH bucket hashes.  Computing all of it in one
pass means the expensive part — decode — runs exactly once per item
(CONSULT likewise encodes each k-mer once and derives all L signatures from
that encoding, main_map.cpp:550-584).

Kinds (each a row -> uint64 shingle-set function, a "shingler"):
  pcm — decoded audio -> per-frame 12-bit symbols (see functions/audio.py)
        -> k_pcm-symbol windows packed into uint64 (the analog of
        encodekmer's 2-bit pack, main_map.cpp:1221-1256), emitted for two
        quantization lattices (offset 0 / 0.5) tagged into the hash.
  txt — normalized transcript -> k_txt-char shingle hashes.
  img — decoded image -> block-luminance shingles (operators/multimodal.py).
  vid — frames sampled once a second -> the union of their image shingles
        (operators/multimodal.py).

Every entry point (``featurize``, ``featurize_from_parquet``,
``multimodal.featurize_images`` / ``featurize_videos``) hands its source —
a DataFrame, or parquet files the workers read — and its shinglers to one
driver, ``_featurize``: one column choice, decoder-registry snapshot,
per-row loop and decode-failure rule, then ``signatures_frame``.

Output schema (FEATURES_SCHEMA): arrays of int64 reinterpret the uint64
hashes (bit-pattern preserved via .view) so they ride in Spark BIGINT
columns; equality/join/xor semantics are unaffected.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ..config import Config
from ..functions import audio
from ..functions import hashing as H
from .multimodal import ImageDecodeError

FEATURES_SCHEMA = (
    "clip_id string, kind string, n_shingles int, "
    "shingles array<int>, minhash array<bigint>, simhash bigint, bands array<bigint>, "
    "decode_ok boolean"
)
# The stored shingle sets are the top-32-bit truncations of the 64-bit
# hashes: the exact-Jaccard verify only needs set intersection, and 32 bits
# gives a spurious-intersection rate of |A||B|/2^32 ~ 1e-4 per pair — far
# inside the threshold margins — while halving the payload of the verify
# joins (the pipeline's largest shuffle). MinHash/SimHash/banding still use
# the full 64-bit hashes.

_LATTICE_TAGS = (np.uint64(0x9E2F), np.uint64(0xB7E1))


def thin_minimizers(h: np.ndarray, w: int) -> np.ndarray:
    """B4 minimizer selection (minimization.cpp:158-171 precedent): the min
    hash of each window of w consecutive positions.  Near-identical
    sequences pick near-identical minimizers (the windows slide together),
    so pairwise Jaccard is preserved while volume drops ~2/(w+1) — the
    shingle-table size lever at 100 TB (README.md:143-163)."""
    if w <= 1 or h.shape[0] <= w:
        return h
    return np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)


def pcm_shingle_set(data: bytes, codec: str, cfg: Config) -> np.ndarray:
    """Distinct uint64 shingle hashes for the audio channel of one clip."""
    x, sr = audio.decode_clip(data, codec)
    log_e, ratio_db, centroid = audio.frame_features(x, sr, cfg.frame_ms, cfg.hop_ms)
    offsets = (0.0, 0.5) if cfg.dual_lattice else (0.0,)
    parts = []
    for li, off in enumerate(offsets):
        sym = audio.symbols_from_features(
            log_e, ratio_db, centroid, cfg.energy_bins, cfg.energy_bin_db, off
        )
        packed = H.pack_symbols_u64(sym.astype(np.uint64), cfg.k_pcm, cfg.symbol_bits)
        if packed.shape[0]:
            hashes = H.hash_combine(packed, _LATTICE_TAGS[li])
            parts.append(thin_minimizers(hashes, cfg.pcm_minimizer_w))
    if not parts:
        return np.empty(0, dtype=np.uint64)
    return np.unique(np.concatenate(parts))


def txt_shingle_set(text: str, cfg: Config) -> np.ndarray:
    """Distinct uint64 shingle hashes for the transcript channel."""
    return H.text_shingle_hashes(text or "", cfg.k_txt)


def truncate_shingles(s: np.ndarray) -> np.ndarray:
    """64-bit shingle set -> distinct top-32-bit truncations (uint32)."""
    return np.unique((np.asarray(s, dtype=np.uint64) >> np.uint64(32)).astype(np.uint32))


def signatures_frame(ids: list[str], kinds: list[str], sets: list[np.ndarray],
                     oks: list[bool], cfg: Config) -> pd.DataFrame:
    """(uint64 shingle sets) -> full FEATURES_SCHEMA pandas frame: truncated
    verify sets + MinHash + SimHash + band hashes, for every kind — the
    signature algebra never depends on where the shingles came from."""
    mh = H.minhash_batch(sets, cfg.n_hashes, cfg.minhash_seed)
    sh = H.simhash_batch(sets, cfg.simhash_bits, cfg.minhash_seed)
    bh = H.band_hashes(mh, cfg.n_bands, cfg.rows_per_band, cfg.band_seed)
    trunc = [truncate_shingles(s) for s in sets]
    return pd.DataFrame(
        {
            "clip_id": ids,
            "kind": kinds,
            "n_shingles": [t.shape[0] for t in trunc],
            "shingles": [t.view(np.int32) for t in trunc],
            "minhash": list(mh.view(np.int64)),
            "simhash": sh.view(np.int64),
            "bands": list(bh.view(np.int64)),
            "decode_ok": oks,
        }
    )


Shingler = Callable[[tuple], np.ndarray]

# the columns each kind's shingler reads from a row, besides clip_id
_KIND_COLUMNS = {"pcm": ("bytes", "codec"), "txt": ("transcript",),
                 "img": ("bytes", "format"), "vid": ("bytes", "codec")}


class MissingPayloadError(ValueError):
    """A null ``bytes`` cell: a per-item decode failure of its own kind."""


_DECODE_ERRORS = (audio.AudioDecodeError, ImageDecodeError, MissingPayloadError,
                  NotImplementedError)


def decode_counters(key: str = "decode_failed") -> dict:
    """A features write's stage counter (metrics.StageRunner): its rows
    with decode_ok = False."""
    return {key: F.count_if(~F.col("decode_ok"))}


def payload(row) -> bytes:
    """A row's ``bytes`` cell as ``bytes``; a null cell raises
    MissingPayloadError, so only the kinds that read the payload fail."""
    if row.bytes is None:
        raise MissingPayloadError(f"null payload for {row.clip_id!r}")
    return row.bytes if isinstance(row.bytes, bytes) else bytes(row.bytes)


def clip_shinglers(cfg: Config) -> dict[str, Shingler]:
    """The clips table's kinds: the pcm/txt channels of ``cfg.channels``."""
    fns = {"pcm": lambda r: pcm_shingle_set(payload(r), r.codec, cfg),
           "txt": lambda r: txt_shingle_set(r.transcript, cfg)}
    return {kind: fns[kind] for kind in cfg.channels}


def _shingle_rows(pdf: pd.DataFrame, shinglers: dict[str, Shingler],
                  cfg: Config) -> pd.DataFrame:
    """items batch -> features batch: one row per (item, kind).

    Decode failures (corrupt container, unimplemented codec, null payload)
    are PER-ITEM, never task-fatal: that (item, kind) gets an empty set and
    decode_ok=False — empty sets are excluded from banding, so the item
    can't match on that channel, and the jobs report a decode_failed metric
    instead of dying 100 TB in.  CONSULT's analog: unparseable tokens are
    skipped, not aborted on (main_search.cpp:770-781)."""
    ids, kinds, sets, oks = [], [], [], []
    for row in pdf.itertuples(index=False):
        for kind, shingle in shinglers.items():
            try:
                s, ok = shingle(row), True
            except _DECODE_ERRORS:
                s, ok = np.empty(0, dtype=np.uint64), False
            ids.append(row.clip_id)
            kinds.append(kind)
            sets.append(s)
            oks.append(ok)
    return signatures_frame(ids, kinds, sets, oks, cfg)


def _source_columns(shinglers: dict[str, Shingler]) -> list[str]:
    """clip_id + the columns the kinds' shinglers read, each once."""
    return list(dict.fromkeys(["clip_id", *(c for k in shinglers for c in _KIND_COLUMNS[k])]))


Body = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]


def _with_decoders(body: Body) -> Body:
    """A mapInPandas body that runs _shingle_rows -> the same body, run with
    the driver's registered codec decoders.  Python workers import modules
    fresh, so a plain module-global registry would be empty there: the
    snapshot taken here rides in the closure cloudpickle ships."""
    decoders = dict(audio._DECODERS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for codec, fn in decoders.items():
            audio.register_decoder(codec, fn)
        return body(batches)

    return run


def _featurize(source, shinglers: dict[str, Shingler], cfg: Config, files: bool = False):
    """``source`` (clip_id + its kinds' columns, pruned to exactly those
    before the Python boundary) -> features DataFrame, one mapInPandas.
    ``files=True``: ``source`` is a ``path`` column of parquet files, one
    task each, whose columns the workers read with pyarrow."""
    cols = _source_columns(shinglers)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if files:
            batches = (pq.read_table(path, columns=cols).to_pandas()
                       for pdf in batches for path in pdf["path"])
        for pdf in batches:
            if len(pdf):
                yield _shingle_rows(pdf, shinglers, cfg)

    return (source if files else source.select(*cols)).mapInPandas(
        _with_decoders(run), schema=FEATURES_SCHEMA)


def featurize(clips_df, cfg: Config):
    """Spark stage: clips DataFrame -> features DataFrame.

    The scan reads only what the active channels need; `bytes` never
    travels further than this stage, and a txt-only config (e.g. deduping a
    documents table) reads no audio columns at all.
    """
    return _featurize(clips_df, clip_shinglers(cfg), cfg)


def featurize_from_parquet(spark, clips_path: str, cfg: Config):
    """Featurize with a Python-native source: executors read the parquet
    files directly with pyarrow instead of receiving the fat `bytes`
    column through the JVM->Python Arrow pipe.

    Measured locally, the JVM-side serialization of ~60 KB binary rows is
    the stage's bottleneck AND it anti-scales with core count (the pipe is a
    shared resource); reading the column in the worker makes featurize
    compute-bound and embarrassingly parallel — the same pattern a real
    cluster uses when Python workers read the object store directly
    (file-granular tasks = CONSULT's file-level OpenMP parallelism,
    main_search.cpp:704-707).

    Returns a features DataFrame identical (bit-for-bit) to
    ``featurize(spark.read.parquet(clips_path), cfg)``.
    """
    files = sorted(glob.glob(os.path.join(clips_path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet part files under {clips_path}")
    # one partition per file, built in the JVM: repartitioning a path list
    # puts a round-robin shuffle in front of the decode, and a parallelized
    # Python RDD runs a Python row conversion in every task (+4 s on the
    # 20k-clip featurize stage at 4 cores)
    paths = spark.range(0, len(files), 1, len(files)).select(
        F.element_at(F.array(*map(F.lit, files)), F.col("id").cast("int") + 1).alias("path"))
    return _featurize(paths, clip_shinglers(cfg), cfg, files=True)
