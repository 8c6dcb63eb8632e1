"""Audio decode + feature kernels (NumPy, batch-oriented).

The input table carries audio as an opaque ``binary`` column plus typed
metadata (sr_hz, dur_ms, codec) per the contract schema.  Decode runs inside
Arrow-batched UDFs — bytes in, float PCM out — with no per-row Python beyond
the unavoidable per-clip container parse (the payloads are variable length,
so a ragged loop over clips in the batch is the vectorization boundary;
everything per-sample is numpy).

Codec support: every WAV-container sample format (PCM 8/16/24/32-bit int,
float32, G.711 mu/A-law, IMA-ADPCM) and native FLAC (rice + fixed/LPC
predictors, pure integer math) decode for real with numpy/stdlib alone.
Perceptual codecs (mp3/opus/aac) need decoder libraries that are not in
this image — they are STUBBED behind ``NotImplementedError`` with the
dispatch, schema and batch plumbing real (see decode_clip and the
register_decoder plug point).

Feature design (the analog of CONSULT's k-mer alphabet): each clip becomes a
sequence of coarse 4-bit symbols = mean-normalized log-energy per 10 ms hop,
quantized at 1.5 dB/bin.  Mean-normalization makes the symbols gain-invariant
(a ±0.5 dB gain change shifts every frame and the mean equally), and 30 dB-SNR
noise moves log-energy by ~0.01 dB — far inside a bin — so the planted
near-duplicate perturbations preserve the symbol string almost exactly.
"""

from __future__ import annotations

import numpy as np

_RIFF = b"RIFF"
_WAVE = b"WAVE"


class AudioDecodeError(ValueError):
    pass


def _decode_mulaw(body: np.ndarray) -> np.ndarray:
    """G.711 mu-law bytes -> float32 in [-1, 1] (vectorized standard expansion)."""
    u = (~body).astype(np.uint8)
    sign = (u & 0x80) != 0
    exponent = ((u >> 4) & 0x07).astype(np.int32)
    mantissa = (u & 0x0F).astype(np.int32)
    sample = (((mantissa << 3) + 0x84) << exponent) - 0x84
    return np.where(sign, -sample, sample).astype(np.float32) / 32768.0


def _decode_alaw(body: np.ndarray) -> np.ndarray:
    """G.711 A-law bytes -> float32 in [-1, 1].  Per ITU G.711, after the
    0x55 toggle the MSB set means POSITIVE (opposite of mu-law)."""
    a = (body ^ np.uint8(0x55)).astype(np.uint8)
    positive = (a & 0x80) != 0
    exponent = ((a >> 4) & 0x07).astype(np.int32)
    mantissa = (a & 0x0F).astype(np.int32)
    sample = np.where(
        exponent > 0,
        ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0),
        (mantissa << 4) + 8,
    )
    return np.where(positive, sample, -sample).astype(np.float32) / 32768.0


# WAVE_FORMAT tags decodable with numpy alone (no codec libraries)
_WAV_FMT_PCM = 1
_WAV_FMT_FLOAT = 3
_WAV_FMT_ALAW = 6
_WAV_FMT_MULAW = 7
_WAV_FMT_IMA_ADPCM = 0x11  # DVI/IMA ADPCM — the common compressed-in-WAV format

# IMA ADPCM tables (public spec: IMA ADPCM reference algorithm / RFC 3551
# appendix; identical tables in every implementation)
_IMA_STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484,
    7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818,
    18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)
_IMA_INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _decode_ima_adpcm(raw: bytes, block_align: int, n_channels: int,
                      n_total_samples: int | None = None) -> np.ndarray:
    """Mono or stereo IMA/DVI ADPCM blocks -> float32 mono in [-1, 1].

    Each block: one 4-byte header per channel (int16 predictor, uint8 step
    index, reserved), then 4-bit nibbles low-first — contiguous for mono,
    interleaved in 4-byte words per channel for stereo.  The predictor
    recursion is sequential WITHIN a (block, channel) stream but
    independent ACROSS them, so the decode loops over sample positions
    with every step vectorized across all blocks x channels — the same
    ragged-batch stance as the rest of the decode kernels.  Stereo mixes
    down to mono (mean), like every other multi-channel WAV path."""
    nch = n_channels
    if nch not in (1, 2):
        raise AudioDecodeError(f"IMA ADPCM with {nch} channels not supported")
    hdr_len = 4 * nch
    if block_align <= hdr_len or (block_align - hdr_len) % (4 * nch):
        raise AudioDecodeError(
            f"bad IMA ADPCM block_align={block_align} for {nch} channel(s)"
        )
    n_blocks = len(raw) // block_align
    if n_blocks == 0:
        raise AudioDecodeError("IMA ADPCM data shorter than one block")
    blocks = np.frombuffer(
        raw[: n_blocks * block_align], dtype=np.uint8
    ).reshape(n_blocks, block_align)
    hdr = blocks[:, :hdr_len].reshape(n_blocks, nch, 4)
    pred = (
        np.ascontiguousarray(hdr[:, :, 0:2]).view("<i2")[:, :, 0]
        .reshape(-1).astype(np.int32)
    )  # (n_blocks * nch,) streams
    index = hdr[:, :, 2].reshape(-1).astype(np.int32)
    if (index > 88).any():
        raise AudioDecodeError("IMA ADPCM step index out of range")
    body = blocks[:, hdr_len:]
    words_per_ch = body.shape[1] // (4 * nch)
    # word j belongs to channel j % nch; gather each channel's bytes in order
    ch_bytes = (
        body.reshape(n_blocks, words_per_ch, nch, 4)
        .transpose(0, 2, 1, 3)
        .reshape(n_blocks * nch, words_per_ch * 4)
    )
    nibs = np.empty((ch_bytes.shape[0], ch_bytes.shape[1] * 2), dtype=np.uint8)
    nibs[:, 0::2] = ch_bytes & 0x0F
    nibs[:, 1::2] = ch_bytes >> 4
    spb = nibs.shape[1] + 1  # header predictor is sample 0 of each stream
    out = np.empty((n_blocks * nch, spb), dtype=np.int16)
    out[:, 0] = pred.astype(np.int16)
    for i in range(nibs.shape[1]):
        n = nibs[:, i].astype(np.int32)
        step = _IMA_STEP_TABLE[index]
        diff = (
            (step >> 3)
            + np.where(n & 1, step >> 2, 0)
            + np.where(n & 2, step >> 1, 0)
            + np.where(n & 4, step, 0)
        )
        pred = np.clip(
            np.where(n & 8, pred - diff, pred + diff), -32768, 32767
        )
        index = np.clip(index + _IMA_INDEX_TABLE[n & 7], 0, 88)
        out[:, i + 1] = pred.astype(np.int16)
    # (blocks*ch, spb) -> per-block channel mean -> contiguous sample stream
    x = (
        out.reshape(n_blocks, nch, spb).astype(np.float32).mean(axis=1)
        .reshape(-1) / 32768.0
    )
    if n_total_samples is not None and 0 < n_total_samples <= x.shape[0]:
        x = x[:n_total_samples]  # fact chunk trims the final-block padding
    return x


def decode_wav_pcm16(data: bytes) -> tuple[np.ndarray, int]:
    """Parse a RIFF/WAV container -> (float32 mono in [-1, 1], sample_rate).
    Chunk-walking parser (not fixed 44-byte offset) so extra chunks
    (LIST/fact) don't break it.

    Sample formats decoded (all pure numpy — the codec zoo a WAV corpus
    actually contains): PCM16, PCM8-unsigned, IEEE float32, the G.711
    telephony pair (mu-law / A-law), and IMA/DVI ADPCM (fmt tag 0x11, the
    most common compressed-in-WAV format in real archives; 4:1 compression).
    Compressed non-WAV codecs (mp3/opus/...) stay behind decode_clip's
    stub."""
    if len(data) < 12 or data[:4] != _RIFF or data[8:12] != _WAVE:
        raise AudioDecodeError("not a RIFF/WAVE container")
    pos = 12
    sr = None
    n_channels = None
    bits = None
    fmt_tag = None
    block_align = None
    fact_samples = None
    raw = None
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        csize = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            fmt_tag = int.from_bytes(body[0:2], "little")
            n_channels = int.from_bytes(body[2:4], "little")
            sr = int.from_bytes(body[4:8], "little")
            block_align = int.from_bytes(body[12:14], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"fact" and csize >= 4:
            fact_samples = int.from_bytes(body[0:4], "little")
        elif cid == b"data":
            raw = body
        pos += 8 + csize + (csize % 2)  # chunks are word-aligned
    if sr is None or raw is None:
        raise AudioDecodeError("missing fmt/data chunk")
    if fmt_tag == _WAV_FMT_IMA_ADPCM:
        # ADPCM decodes straight to mono float; no channel mixdown below
        return _decode_ima_adpcm(raw, block_align or 0, n_channels or 1,
                                 fact_samples), sr
    if fmt_tag == _WAV_FMT_PCM and bits == 16:
        x = np.frombuffer(raw[: len(raw) - (len(raw) % 2)], dtype="<i2").astype(np.float32) / 32768.0
    elif fmt_tag == _WAV_FMT_PCM and bits == 8:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif fmt_tag == _WAV_FMT_PCM and bits == 24:
        # 3-byte little-endian signed: widen to int32 via a zero pad byte,
        # then arithmetic-shift the pad back out (vectorized, no loop)
        b3 = np.frombuffer(raw[: len(raw) - (len(raw) % 3)], dtype=np.uint8).reshape(-1, 3)
        padded = np.zeros((b3.shape[0], 4), dtype=np.uint8)
        padded[:, 1:] = b3
        x = (padded.view("<i4")[:, 0] >> 8).astype(np.float32) / 8388608.0
    elif fmt_tag == _WAV_FMT_PCM and bits == 32:
        x = np.frombuffer(raw[: len(raw) - (len(raw) % 4)], dtype="<i4").astype(np.float32) / 2147483648.0
    elif fmt_tag == _WAV_FMT_FLOAT and bits == 32:
        x = np.frombuffer(raw[: len(raw) - (len(raw) % 4)], dtype="<f4").astype(np.float32)
    elif fmt_tag == _WAV_FMT_MULAW and bits == 8:
        x = _decode_mulaw(np.frombuffer(raw, dtype=np.uint8))
    elif fmt_tag == _WAV_FMT_ALAW and bits == 8:
        x = _decode_alaw(np.frombuffer(raw, dtype=np.uint8))
    else:
        raise AudioDecodeError(f"unsupported wav fmt tag={fmt_tag} bits={bits}")
    if n_channels and n_channels > 1:
        usable = (x.shape[0] // n_channels) * n_channels
        x = x[:usable].reshape(-1, n_channels).mean(axis=1)  # mono mixdown
    return x, sr


# ---------------------------------------------------------------------------
# FLAC (native container) — the lossless compressed audio format decodable
# without any external library: rice-coded residuals + constant/verbatim/
# fixed/LPC predictors, all integer math (VERDICT r4 'Next round' #5).
# Re-derived from the public FLAC format spec.  The bitstream walk is a
# per-sample python loop (rice codes are data-dependent variable-length —
# that loop IS the vectorization boundary, like the per-clip container
# parse); predictor reconstruction and the final mixdown are numpy, and
# clips decode executor-parallel across the corpus like every other codec.
# ---------------------------------------------------------------------------

_FLAC_BLOCKSIZE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                   8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                   13: 8192, 14: 16384, 15: 32768}
_FLAC_RATE = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
              7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000}
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


class _FlacBits:
    """MSB-first bit reader (shared shape with multimodal._JpegBits, but
    hard-fails on exhaustion — FLAC has no 1-padding convention)."""

    __slots__ = ("data", "n", "pos", "acc", "nbits")

    def __init__(self, data: bytes, byte_pos: int = 0):
        self.data = data
        self.n = len(data)
        self.pos = byte_pos
        self.acc = 0
        self.nbits = 0

    def read(self, k: int) -> int:
        while self.nbits < k:
            if self.pos >= self.n:
                raise AudioDecodeError("FLAC bitstream exhausted")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= k
        out = (self.acc >> self.nbits) & ((1 << k) - 1)
        self.acc &= (1 << self.nbits) - 1
        return out

    def read_signed(self, k: int) -> int:
        v = self.read(k)
        return v - (1 << k) if v >= (1 << (k - 1)) else v

    def read_unary(self) -> int:
        """Count of 0 bits before the terminating 1 bit."""
        q = 0
        while True:
            if self.nbits == 0:
                if self.pos >= self.n:
                    raise AudioDecodeError("FLAC bitstream exhausted in unary")
                self.acc = self.data[self.pos]
                self.pos += 1
                self.nbits = 8
            if self.acc == 0:  # all remaining buffered bits are 0
                q += self.nbits
                self.nbits = 0
                continue
            top = self.acc.bit_length()
            zeros = self.nbits - top
            q += zeros
            self.nbits = top - 1  # consume the zeros AND the 1 bit
            self.acc &= (1 << self.nbits) - 1
            return q

    def align(self) -> None:
        self.acc = 0
        self.nbits = 0

    def byte_offset(self) -> int:
        return self.pos - (self.nbits // 8)


def _flac_utf8_number(bits: _FlacBits) -> int:
    """The UTF-8-style frame/sample number coding (up to 7 bytes)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise AudioDecodeError("FLAC bad UTF-8 frame number")
    val = b0 & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = bits.read(8)
        if b & 0xC0 != 0x80:
            raise AudioDecodeError("FLAC bad UTF-8 continuation")
        val = (val << 6) | (b & 0x3F)
    return val


def _flac_residual(bits: _FlacBits, blocksize: int, order: int) -> list[int]:
    """Rice-coded residual section -> blocksize-order signed ints."""
    method = bits.read(2)
    if method > 1:
        raise AudioDecodeError(f"FLAC reserved residual method {method}")
    plen, escape = (4, 0xF) if method == 0 else (5, 0x1F)
    porder = bits.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise AudioDecodeError("FLAC partition order does not divide blocksize")
    out: list[int] = []
    for p in range(nparts):
        count = (blocksize >> porder) - (order if p == 0 else 0)
        if count < 0:
            raise AudioDecodeError("FLAC partition smaller than predictor order")
        param = bits.read(plen)
        if param == escape:
            nbits = bits.read(5)
            for _ in range(count):
                out.append(bits.read_signed(nbits) if nbits else 0)
        else:
            for _ in range(count):
                q = bits.read_unary()
                v = (q << param) | (bits.read(param) if param else 0)
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


_FLAC_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_subframe(bits: _FlacBits, blocksize: int, bps: int) -> list[int]:
    if bits.read(1):
        raise AudioDecodeError("FLAC subframe padding bit set")
    stype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = 1 + bits.read_unary()
    eff = bps - wasted
    if eff <= 0:
        raise AudioDecodeError("FLAC wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        v = bits.read_signed(eff)
        samples = [v] * blocksize
    elif stype == 1:  # VERBATIM
        samples = [bits.read_signed(eff) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        warm = [bits.read_signed(eff) for _ in range(order)]
        res = _flac_residual(bits, blocksize, order)
        samples = warm[:]
        coefs = _FLAC_FIXED_COEFS[order]
        for i, r in enumerate(res):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * samples[order + i - 1 - j]
            samples.append(r + pred)
    elif stype >= 32:  # LPC, order = stype - 31
        order = stype - 31
        warm = [bits.read_signed(eff) for _ in range(order)]
        prec = bits.read(4)
        if prec == 0xF:
            raise AudioDecodeError("FLAC invalid LPC precision")
        prec += 1
        shift = bits.read_signed(5)
        if shift < 0:
            raise AudioDecodeError("FLAC negative LPC shift")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        res = _flac_residual(bits, blocksize, order)
        samples = warm[:]
        for i, r in enumerate(res):
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * samples[order + i - 1 - j]
            samples.append(r + (acc >> shift))
    else:
        raise AudioDecodeError(f"FLAC reserved subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(data: bytes) -> tuple[np.ndarray, int]:
    """Native-FLAC bytes -> (float32 mono pcm in [-1, 1], sample_rate).

    Subset: 8/16/24-bit, up to 2 channels (all four stereo decorrelation
    modes), constant/verbatim/fixed/LPC subframes, rice + rice2 residuals,
    escape partitions, wasted bits, fixed and variable blocksize streams.
    Frame CRCs are parsed but not verified (corrupt streams fail structural
    checks instead).  Raises AudioDecodeError (soft, per-clip)."""
    if data[:4] != b"fLaC":
        raise AudioDecodeError("not a FLAC stream")
    pos = 4
    info = None
    while pos + 4 <= len(data):
        hdr = data[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        length = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise AudioDecodeError("FLAC metadata block truncated")
        if btype == 0:
            if length < 34:
                raise AudioDecodeError("FLAC STREAMINFO too short")
            b = _FlacBits(body)
            b.read(16)  # min blocksize
            b.read(16)  # max blocksize
            b.read(24)  # min frame
            b.read(24)  # max frame
            sr = b.read(20)
            nch = b.read(3) + 1
            bps = b.read(5) + 1
            total = b.read(36)
            info = (sr, nch, bps, total)
        pos += 4 + length
        if last:
            break
    if info is None:
        raise AudioDecodeError("FLAC missing STREAMINFO")
    sr, nch, bps, total = info
    if sr <= 0:
        raise AudioDecodeError("FLAC invalid sample rate")
    if nch > 2:
        raise AudioDecodeError(f"FLAC {nch}-channel streams unsupported")
    if bps not in (8, 12, 16, 20, 24):
        raise AudioDecodeError(f"FLAC {bps}-bit streams unsupported")

    chans: list[list[int]] = [[] for _ in range(nch)]
    decoded = 0
    while pos < len(data) and (total == 0 or decoded < total):
        if data[pos] != 0xFF:
            raise AudioDecodeError("FLAC frame sync lost")
        bits = _FlacBits(data, pos)
        if bits.read(8) != 0xFF or bits.read(6) != 0x3E:
            raise AudioDecodeError("FLAC bad frame sync code")
        bits.read(1)  # reserved
        bits.read(1)  # blocking strategy
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        ss_code = bits.read(3)
        bits.read(1)  # reserved
        _flac_utf8_number(bits)
        if bs_code == 0:
            raise AudioDecodeError("FLAC reserved blocksize code")
        elif bs_code == 6:
            blocksize = bits.read(8) + 1
        elif bs_code == 7:
            blocksize = bits.read(16) + 1
        else:
            blocksize = _FLAC_BLOCKSIZE[bs_code]
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise AudioDecodeError("FLAC invalid sample rate code")
        if ss_code == 3:
            raise AudioDecodeError("FLAC reserved sample size code")
        fbps = _FLAC_BPS.get(ss_code, bps)
        bits.read(8)  # header CRC-8 (unverified)
        if ch_code < 8:
            frame_nch = ch_code + 1
            if frame_nch != nch:
                raise AudioDecodeError("FLAC frame/stream channel mismatch")
            subs = [_flac_subframe(bits, blocksize, fbps) for _ in range(frame_nch)]
        elif ch_code in (8, 9, 10):
            if nch != 2:
                raise AudioDecodeError("FLAC stereo decorrelation in non-stereo stream")
            # the SIDE channel carries one extra bit
            if ch_code == 8:  # left/side
                left = _flac_subframe(bits, blocksize, fbps)
                side = _flac_subframe(bits, blocksize, fbps + 1)
                subs = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:  # right/side
                side = _flac_subframe(bits, blocksize, fbps + 1)
                right = _flac_subframe(bits, blocksize, fbps)
                subs = [[r + s for r, s in zip(right, side)], right]
            else:  # mid/side
                mid = _flac_subframe(bits, blocksize, fbps)
                side = _flac_subframe(bits, blocksize, fbps + 1)
                left, right = [], []
                for m, s in zip(mid, side):
                    m = (m << 1) | (s & 1)
                    left.append((m + s) >> 1)
                    right.append((m - s) >> 1)
                subs = [left, right]
        else:
            raise AudioDecodeError(f"FLAC reserved channel assignment {ch_code}")
        bits.align()
        pos = bits.byte_offset()
        if pos + 2 > len(data):
            raise AudioDecodeError("FLAC frame footer truncated")
        pos += 2  # frame CRC-16 (unverified)
        keep = blocksize
        if total and decoded + keep > total:
            keep = total - decoded  # final partial block
        for c in range(nch):
            chans[c].extend(subs[c][:keep])
        decoded += keep
    if not decoded:
        raise AudioDecodeError("FLAC stream contains no frames")
    arr = np.array(chans, dtype=np.float64)
    mono = arr.mean(axis=0)
    return (mono / float(1 << (bps - 1))).astype(np.float32), sr


# Pluggable decoder registry: codec name -> fn(bytes) -> (float32 pcm, sr).
# register_decoder() is the ONE-LINE integration point for compressed codecs
# once a decoder wheel is installed (see README "Compressed audio"); entries
# here take precedence over the builtin dispatch, so a site can also
# override the WAV path (e.g. with a hardware-accelerated decoder).
# Registration must happen at import time of a module shipped to the
# executors (--py-files): mapInPandas workers import the same modules, so
# the registry is populated everywhere the UDF runs.
_DECODERS: dict[str, object] = {}


def register_decoder(codec: str, fn) -> None:
    """Register fn(bytes) -> (np.float32 mono pcm in [-1, 1], sample_rate)
    for a codec name.  Decode failures inside fn should raise
    AudioDecodeError (soft, per-clip); anything else propagates."""
    _DECODERS[codec] = fn


# codecs libsndfile can decode once the `soundfile` wheel is shipped; mp3
# needs libsndfile >= 1.1, opus/vorbis an ogg-enabled build — the wrapper
# soft-fails per clip either way, so over-registering is safe.
SOUNDFILE_CODECS = ("mp3", "ogg", "vorbis", "opus", "flac", "aac")


def register_soundfile_decoders(codecs: tuple = SOUNDFILE_CODECS) -> list:
    """Back the compressed-codec slots with libsndfile via the ``soundfile``
    wheel — the deployment recipe for real lossy corpora (the wheel is not
    in this image; install it and ship with --py-files/--archives, then call
    this from a module the executors import).  Returns the codec names
    registered; raises ImportError when the library is absent so callers
    gate cleanly::

        try:
            audio.register_soundfile_decoders()
        except ImportError:
            pass  # pure-numpy WAV/FLAC/G.711/ADPCM paths still work

    The wrapper downmixes to float32 mono (channel mean, matching
    decode_wav_pcm16) and re-raises libsndfile parse failures as
    AudioDecodeError, keeping the per-clip soft-fail contract on dirty
    corpora."""
    import io as _io

    import soundfile as _sf  # ImportError here is the caller's gate

    def _decode(data: bytes) -> tuple[np.ndarray, int]:
        try:
            x, sr = _sf.read(_io.BytesIO(data), dtype="float32", always_2d=True)
        except Exception as e:  # LibsndfileError/RuntimeError on corrupt input
            raise AudioDecodeError(f"soundfile decode failed: {e}") from e
        if x.size == 0:
            raise AudioDecodeError("soundfile produced no samples")
        return np.ascontiguousarray(x.mean(axis=1), dtype=np.float32), int(sr)

    for c in codecs:
        register_decoder(c, _decode)
    return list(codecs)


def decode_clip(data: bytes, codec: str) -> tuple[np.ndarray, int]:
    """Codec dispatch.  Every WAV-container sample format decodes with pure
    numpy (see decode_wav_pcm16); compressed codecs need decoder libraries
    absent from this image — register one with register_decoder() and the
    whole pipeline (featurize/decode_ok/metrics) picks it up unchanged."""
    fn = _DECODERS.get(codec)
    if fn is not None:
        return fn(data)
    if codec in ("pcm_s16le", "pcm_u8", "pcm_f32le", "pcm_mulaw", "pcm_alaw",
                 "adpcm_ima_wav", "wav"):
        return decode_wav_pcm16(data)
    if codec == "flac" or data[:4] == b"fLaC":
        return decode_flac(data)
    if codec in ("mp3", "opus", "aac", "vorbis"):
        raise NotImplementedError(
            f"codec {codec!r} requires an audio decoder library not present in "
            "this environment; register one via audio.register_decoder()"
        )
    raise AudioDecodeError(f"unknown codec {codec!r}")


BAND_EDGES_HZ = (0.0, 500.0, 1000.0, 2000.0, 4000.0)
RATIO_FLOOR_DB = -27.9
RATIO_BIN_DB = 7.0
RATIO_LEVELS = 4
CENTROID_BASE_HZ = 50.0
CENTROID_BIN_LOG2 = 0.4
CENTROID_LEVELS = 16


def frame_features(
    x: np.ndarray, sr: int, frame_ms: int, hop_ms: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-frame (log_energy_db[n], band_ratio_db[n, 4], peak_log2[n]).

    Band ratios are per-band power over total power (dB), over fixed Hz bands
    — gain-invariant by construction, and clamped at RATIO_FLOOR_DB so bands
    holding only the noise floor quantize to a stable floor bin instead of
    jittering with the noise.  The dominant-peak frequency (log2 of the
    argmax FFT bin's Hz) pins the clip's actual frequency content: two
    unrelated low-dynamics clips can share coarse energy/band patterns, but
    rarely the same peak bin — unlike a spectral centroid, which concentrates
    around the middle of the spectrum for any multi-component mix."""
    frame = max(1, sr * frame_ms // 1000)
    hop = max(1, sr * hop_ms // 1000)
    if x.shape[0] == 0:
        return np.empty(0), np.empty((0, len(BAND_EDGES_HZ) - 1)), np.empty(0)
    if x.shape[0] < frame:
        frame = x.shape[0]
    win = np.lib.stride_tricks.sliding_window_view(x, frame)[::hop]
    e = np.square(win, dtype=np.float64).mean(axis=1)
    log_e = 10.0 * np.log10(np.maximum(e, 1e-12))
    spec = np.abs(np.fft.rfft(win, axis=1)) ** 2
    freqs = np.fft.rfftfreq(frame, 1.0 / sr)
    n_bands = len(BAND_EDGES_HZ) - 1
    eb = np.empty((win.shape[0], n_bands), dtype=np.float64)
    for i in range(n_bands):
        lo, hi = BAND_EDGES_HZ[i], BAND_EDGES_HZ[i + 1]
        mask = (freqs >= lo) & (freqs < hi) if i < n_bands - 1 else (freqs >= lo) & (freqs <= hi)
        eb[:, i] = spec[:, mask].sum(axis=1) if mask.any() else 0.0
    total = np.maximum(eb.sum(axis=1, keepdims=True), 1e-24)
    ratio_db = 10.0 * np.log10(np.maximum(eb / total, 1e-12))
    peak_hz = freqs[np.argmax(spec, axis=1)]
    peak_log2 = np.log2(np.maximum(peak_hz, CENTROID_BASE_HZ) / CENTROID_BASE_HZ)
    return log_e, np.clip(ratio_db, RATIO_FLOOR_DB, -0.001), peak_log2


def quantize_energy(db: np.ndarray, n_bins: int, bin_db: float, offset: float = 0.0) -> np.ndarray:
    """Median-normalize then quantize log-energy to n_bins symbols (uint8).

    Centered on the clip *median* so the code is gain-invariant (a gain change
    shifts every frame and the median equally) and robust to a few outlier
    frames (e.g. a zero-padded tail frame at -120 dB would drag a mean, not a
    median). This is the engine's 'alphabet' — the role {A,C,G,T} plays in the
    reference (2 bits there, 4 bits here)."""
    if db.shape[0] == 0:
        return np.empty(0, dtype=np.uint8)
    centered = db - np.median(db)
    idx = np.floor(centered / bin_db + offset).astype(np.int64) + n_bins // 2
    return np.clip(idx, 0, n_bins - 1).astype(np.uint8)


def symbols_from_features(log_e: np.ndarray, ratio_db: np.ndarray,
                          centroid_log2: np.ndarray, n_bins: int,
                          bin_db: float, offset: float = 0.0) -> np.ndarray:
    """(features) -> 16-bit symbol sequence (uint16).

    Symbol layout: bits 0-3 = median-centered quantized log-energy (temporal
    structure); bits 4-11 = 4 spectral band-ratio bins x 2 bits; bits 12-15 =
    log-quantized spectral centroid.  The energy bits give the sequence its
    dynamics, the band/centroid bits give unrelated clips nearly-disjoint
    shingle spaces.

    ``offset`` (in bins) selects the quantization lattice; the shingle stage
    emits the union of two lattices (offset 0 and 0.5): a value near a bin
    boundary of one lattice is mid-bin in the other, so boundary jitter from
    the 30 dB-SNR perturbation can break a window in at most one lattice.
    The union-of-two-projections move is the same one CONSULT makes for
    strand invariance — probing forward ∪ reverse-complement
    (main_search.cpp:899-1018) — applied to quantization robustness."""
    if log_e.shape[0] == 0:
        return np.empty(0, dtype=np.uint16)
    e_bin = quantize_energy(log_e, n_bins, bin_db, offset).astype(np.uint16)
    r_bin = np.floor((ratio_db - RATIO_FLOOR_DB - 0.1) / RATIO_BIN_DB + offset).astype(np.int64)
    r_bin = np.clip(r_bin, 0, RATIO_LEVELS - 1).astype(np.uint16)
    c_bin = np.floor(centroid_log2 / CENTROID_BIN_LOG2 + offset).astype(np.int64)
    c_bin = np.clip(c_bin, 0, CENTROID_LEVELS - 1).astype(np.uint16)
    sym = e_bin
    for i in range(r_bin.shape[1]):
        sym = sym | (r_bin[:, i] << np.uint16(4 + 2 * i))
    return sym | (c_bin << np.uint16(12))


def snr_db(reference: np.ndarray, other: np.ndarray) -> float:
    """SNR of `other` against `reference` (pads the shorter with zeros) —
    used by the per-row invariant check (decoded-PCM allclose at SNR>=30dB)."""
    n = max(reference.shape[0], other.shape[0])
    a = np.zeros(n, dtype=np.float64)
    b = np.zeros(n, dtype=np.float64)
    a[: reference.shape[0]] = reference
    b[: other.shape[0]] = other
    noise = np.square(a - b).sum()
    sig = np.square(a).sum()
    if noise == 0:
        return float("inf")
    return 10.0 * np.log10(sig / noise)
