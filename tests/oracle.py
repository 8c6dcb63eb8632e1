"""Single-node oracle: an independent implementation of the identical
pipeline spec, used the way CONSULT uses its golden FASTQ fixtures
(README.md:85-99) — as the trusted expected-output generator.

Deliberately written with DIFFERENT code paths from consult_spark:
  - WAV decode via the stdlib ``wave`` module (engine: hand-rolled RIFF parser)
  - per-frame energy via direct dot products (engine: cumsum-of-squares)
  - hashing via Python big-int arithmetic (engine: numpy uint64 wraparound)
  - clustering via union-find (engine: iterative DataFrame label propagation)

Integer stages (hash, pack, minhash, band, cap, pair, threshold) must match
the engine EXACTLY.  Float stages (energy, FFT ratios) agree to ~1e-15, so a
quantization flip would require a value within ~1e-14 of a bin edge —
vanishingly unlikely; the e2e tests assert >=0.99 agreement to absorb it.
"""

from __future__ import annotations

import io as _io
import wave
from collections import defaultdict

import numpy as np

from consult_spark.config import Config

MASK64 = (1 << 64) - 1


# ---------------- integer hashing, python-int implementation ----------------

def sm64(x: int) -> int:
    z = (x + 0x9E3779B97F4A7C15) & MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return z ^ (z >> 31)


def combine(a: int, b: int) -> int:
    return sm64((a ^ (sm64(b) + 0x9E3779B97F4A7C15 + ((a << 6) & MASK64) + (a >> 2))) & MASK64)


def poly_hash_windows(seq: list[int], k: int) -> list[int]:
    """Rolling polynomial window hash, same spec as hashing.bytes_shingle_hashes."""
    n = len(seq)
    if n < k:
        return []
    m = 0x100000001B3
    mult = [0] * k
    acc = 1
    for i in range(k - 1, -1, -1):
        mult[i] = acc
        acc = (acc * m) & MASK64
    out = []
    for s in range(n - k + 1):
        h = 0
        for j in range(k):
            h = (h + seq[s + j] * mult[j]) & MASK64
        out.append(sm64(h))
    return out


def pack_windows(seq: list[int], k: int, bits: int) -> list[int]:
    out = []
    for s in range(len(seq) - k + 1):
        v = 0
        for j in range(k):
            v = (v << bits) | seq[s + j]
        out.append(v & MASK64)
    return out


def minhash_set(shingles: set[int], n_hashes: int, seed: int) -> list[int]:
    if not shingles:
        return [MASK64] * n_hashes
    seed2 = (seed * 0x9E3779B97F4A7C15 + 1) & MASK64
    h1 = [sm64(x ^ (seed & MASK64)) for x in shingles]
    h2 = [sm64(x ^ seed2) | 1 for x in shingles]
    return [
        min((a + i * b) & MASK64 for a, b in zip(h1, h2)) for i in range(n_hashes)
    ]


def simhash_set(shingles: set[int], seed: int = 0) -> int:
    fp = 0
    if not shingles:
        return 0
    mixed = [sm64(x ^ seed) for x in shingles]
    for j in range(64):
        votes = sum(1 if (m >> j) & 1 else -1 for m in mixed)
        if votes > 0:
            fp |= 1 << j
    return fp


def band_hash_list(sig: list[int], n_bands: int, rows: int, seed: int) -> list[int]:
    out = []
    for l in range(n_bands):
        h = sm64(seed ^ l)
        for r in range(rows):
            h = combine(h, sig[l * rows + r])
        out.append(h)
    return out


# ---------------- audio decode + features (independent float path) ----------

def decode(data: bytes) -> tuple[np.ndarray, int]:
    with wave.open(_io.BytesIO(data)) as w:
        sr = w.getframerate()
        nch = w.getnchannels()
        raw = w.readframes(w.getnframes())
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, sr


def features(x: np.ndarray, sr: int, cfg: Config) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    from consult_spark.functions.audio import (
        BAND_EDGES_HZ,
        CENTROID_BASE_HZ,
        RATIO_FLOOR_DB,
    )

    frame = max(1, sr * cfg.frame_ms // 1000)
    hop = max(1, sr * cfg.hop_ms // 1000)
    if x.shape[0] < frame:
        frame = x.shape[0]
    starts = list(range(0, x.shape[0] - frame + 1, hop))
    log_e = np.empty(len(starts))
    ratios = np.empty((len(starts), len(BAND_EDGES_HZ) - 1))
    centroid = np.empty(len(starts))
    freqs = np.fft.rfftfreq(frame, 1.0 / sr)
    for fi, s in enumerate(starts):
        w = x[s : s + frame].astype(np.float64)
        e = float(np.dot(w, w)) / frame
        log_e[fi] = 10.0 * np.log10(max(e, 1e-12))
        spec = np.abs(np.fft.rfft(w)) ** 2
        eb = []
        nb = len(BAND_EDGES_HZ) - 1
        for i in range(nb):
            lo, hi = BAND_EDGES_HZ[i], BAND_EDGES_HZ[i + 1]
            m = (freqs >= lo) & ((freqs < hi) if i < nb - 1 else (freqs <= hi))
            eb.append(float(spec[m].sum()) if m.any() else 0.0)
        tot = max(sum(eb), 1e-24)
        for i in range(nb):
            ratios[fi, i] = 10.0 * np.log10(max(eb[i] / tot, 1e-12))
        p_hz = float(freqs[int(np.argmax(spec))])
        centroid[fi] = np.log2(max(p_hz, CENTROID_BASE_HZ) / CENTROID_BASE_HZ)
    return log_e, np.clip(ratios, RATIO_FLOOR_DB, -0.001), centroid


def symbols(log_e: np.ndarray, ratios: np.ndarray, centroid: np.ndarray,
            cfg: Config, offset: float) -> list[int]:
    from consult_spark.functions.audio import (
        CENTROID_BIN_LOG2,
        CENTROID_LEVELS,
        RATIO_BIN_DB,
        RATIO_FLOOR_DB,
        RATIO_LEVELS,
    )

    if log_e.shape[0] == 0:
        return []
    med = float(np.median(log_e))
    out = []
    for fi in range(log_e.shape[0]):
        e_bin = int(np.floor((log_e[fi] - med) / cfg.energy_bin_db + offset)) + cfg.energy_bins // 2
        e_bin = min(max(e_bin, 0), cfg.energy_bins - 1)
        sym = e_bin
        for i in range(ratios.shape[1]):
            rb = int(np.floor((ratios[fi, i] - RATIO_FLOOR_DB - 0.1) / RATIO_BIN_DB + offset))
            rb = min(max(rb, 0), RATIO_LEVELS - 1)
            sym |= rb << (4 + 2 * i)
        cb = int(np.floor(centroid[fi] / CENTROID_BIN_LOG2 + offset))
        cb = min(max(cb, 0), CENTROID_LEVELS - 1)
        out.append(sym | (cb << 12))
    return out


LATTICE_TAGS = (0x9E2F, 0xB7E1)


def pcm_shingles(data: bytes, cfg: Config) -> set[int]:
    x, sr = decode(data)
    log_e, ratios, centroid = features(x, sr, cfg)
    offs = (0.0, 0.5) if cfg.dual_lattice else (0.0,)
    out: set[int] = set()
    for li, off in enumerate(offs):
        sym = symbols(log_e, ratios, centroid, cfg, off)
        hs = [combine(p, LATTICE_TAGS[li]) for p in pack_windows(sym, cfg.k_pcm, cfg.symbol_bits)]
        # B4 minimizer thinning (independent loop form of shingle.thin_minimizers)
        w = cfg.pcm_minimizer_w
        if w > 1 and len(hs) > w:
            hs = [min(hs[i : i + w]) for i in range(len(hs) - w + 1)]
        out.update(hs)
    return out


def txt_shingles(text: str, cfg: Config) -> set[int]:
    norm = " ".join((text or "").lower().split()).encode("utf-8")
    k = cfg.k_txt if len(norm) >= cfg.k_txt else len(norm)
    if k == 0:
        return set()
    return set(poly_hash_windows(list(norm), k))


# ---------------- LCS (numpy row DP — different algorithm than the engine) --

def lcs_len(a: str, b: str) -> int:
    if not a or not b:
        return 0
    A = np.frombuffer(a.encode("utf-8"), dtype=np.uint8)
    B = np.frombuffer(b.encode("utf-8"), dtype=np.uint8)
    prev = np.zeros(B.shape[0] + 1, dtype=np.int64)
    best = 0
    for i in range(A.shape[0]):
        cur = np.zeros_like(prev)
        eq = A[i] == B
        cur[1:][eq] = prev[:-1][eq] + 1
        m = int(cur.max())
        if m > best:
            best = m
        prev = cur
    return best


# ---------------- end-to-end oracle pipeline --------------------------------

def truncate32(s: set[int]) -> set[int]:
    """Mirror of shingle.truncate_shingles: top-32-bit truncation set."""
    return {x >> 32 for x in s}


class OracleResult:
    def __init__(self):
        self.shingle_sets: dict[tuple[str, str], set[int]] = {}
        self.minhashes: dict[tuple[str, str], list[int]] = {}
        self.simhashes: dict[tuple[str, str], int] = {}
        self.buckets: dict[tuple[str, int, int], list[str]] = {}
        self.candidates: dict[tuple[str, str], dict] = {}
        self.confirmed: dict[tuple[str, str], dict] = {}
        self.clusters: dict[str, str] = {}
        self.unique: set[str] = set()


def run_oracle(clips_pdf, cfg: Config) -> OracleResult:
    """clips_pdf: pandas DataFrame with CLIP_COLUMNS. Full pipeline."""
    r = OracleResult()
    transcripts: dict[str, str] = {}
    for t in clips_pdf.itertuples(index=False):
        data = t.bytes if isinstance(t.bytes, bytes) else bytes(t.bytes)
        transcripts[t.clip_id] = t.transcript
        for kind in cfg.channels:
            s = pcm_shingles(data, cfg) if kind == "pcm" else txt_shingles(t.transcript, cfg)
            key = (t.clip_id, kind)
            r.shingle_sets[key] = s
            r.minhashes[key] = minhash_set(s, cfg.n_hashes, cfg.minhash_seed)
            r.simhashes[key] = simhash_set(s, cfg.minhash_seed)

    # banding + cap (empty shingle sets excluded, mirroring bands.explode_bands)
    for (cid, kind), sig in r.minhashes.items():
        if not r.shingle_sets[(cid, kind)]:
            continue
        for l, bh in enumerate(band_hash_list(sig, cfg.n_bands, cfg.rows_per_band, cfg.band_seed)):
            r.buckets.setdefault((kind, l, bh), []).append(cid)
    capped: dict[tuple[str, int, int], list[str]] = {}
    for key, members in r.buckets.items():
        capped[key] = sorted(members)[: cfg.bucket_cap]

    # candidate pairs with per-channel band counts
    counts: dict[tuple[str, str], dict[str, int]] = defaultdict(lambda: {"pcm": 0, "txt": 0})
    for (kind, _l, _bh), members in capped.items():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                counts[(members[i], members[j])][kind] += 1
    c = cfg.min_common_bands
    for pair, cnt in counts.items():
        if cnt["pcm"] >= c or cnt["txt"] >= c:
            r.candidates[pair] = {"n_bands_pcm": cnt["pcm"], "n_bands_txt": cnt["txt"]}

    # verify
    def jac(a: set, b: set) -> float:
        if not a and not b:
            return 0.0
        inter = len(a & b)
        return inter / (len(a) + len(b) - inter)

    for (a, b), info in r.candidates.items():
        scores = dict(info)
        scores.update({"pcm_jaccard": 0.0, "txt_jaccard": 0.0,
                       "pcm_hamming": 64, "txt_hamming": 64})
        for kind in cfg.channels:
            # verify runs on the stored (32-bit-truncated) sets, like the engine
            sa = truncate32(r.shingle_sets[(a, kind)])
            sb = truncate32(r.shingle_sets[(b, kind)])
            ham = bin(r.simhashes[(a, kind)] ^ r.simhashes[(b, kind)]).count("1")
            na, nb = len(sa), len(sb)
            if kind == "pcm":
                thr = cfg.low_info_jaccard if min(na, nb) < cfg.low_info_floor else cfg.jaccard_threshold
            else:
                thr = cfg.txt_jaccard_threshold
            # mirror the prunes of verify._channel_scores, the one scorer
            # every channel goes through: simhash prefilter + containment
            # bound (jaccard <= min/max)
            passes = ham <= cfg.simhash_prefilter_max and min(na, nb) >= thr * max(na, nb)
            scores[f"{kind}_jaccard"] = jac(sa, sb) if passes else 0.0
            scores[f"{kind}_hamming"] = ham if passes else 64
        # LCS is gated on the txt-Jaccard threshold (mirrors the containment
        # gate inside verify._channel_scores' txt pass)
        if scores["txt_jaccard"] >= cfg.txt_jaccard_threshold:
            lcs = lcs_len(transcripts[a], transcripts[b])
            m = min(len(transcripts[a] or ""), len(transcripts[b] or ""))
        else:
            lcs, m = 0, 0
        scores["lcs"] = lcs
        scores["substr"] = bool(m and lcs >= cfg.substr_min_frac * m)
        # low-complexity masking (mirrors verify.confirm_pairs)
        pcm_min_n = min(
            len(truncate32(r.shingle_sets[(a, "pcm")])),
            len(truncate32(r.shingle_sets[(b, "pcm")])),
        ) if ("pcm" in cfg.channels) else 0
        pcm_thr = cfg.low_info_jaccard if pcm_min_n < cfg.low_info_floor else cfg.jaccard_threshold
        scores["is_dup"] = bool(
            scores["pcm_jaccard"] >= pcm_thr
            or (scores["txt_jaccard"] >= cfg.txt_jaccard_threshold and scores["substr"])
        )
        if scores["is_dup"]:
            r.confirmed[(a, b)] = scores

    # union-find clustering
    parent: dict[str, str] = {cid: cid for cid in transcripts}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in r.confirmed:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for cid in transcripts:
        r.clusters[cid] = find(cid)
    in_pairs = {x for p in r.confirmed for x in p}
    r.unique = set(transcripts) - in_pairs
    return r
