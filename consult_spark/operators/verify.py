"""Candidate-pair verification: SimHash prefilter -> exact Jaccard ->
suffix-array substring check -> threshold classification.

CONSULT verifies every LSH candidate with an exact Hamming check
(hd(b, candidate) <= p, main_search.cpp:867, 1238-1259) before it counts
toward the read's match threshold (matched >= c, main_search.cpp:883-894).
Every channel (pcm, txt, img, vid) goes through ONE scorer,
_channel_scores, whose ladder runs cheapest first:

1. SimHash Hamming prefilter — JVM-side ``bit_count(simhash_a ^ simhash_b)``
   on 8-byte fingerprints (the direct hd() analog; Spark >=3.3 bit_count,
   whole-stage codegen), plus the size-ratio containment bound.  Only
   survivors pay for the fat shingle join.
2. Exact Jaccard re-score on the full shingle sets (Arrow-batched numpy).
3. Suffix-array longest-common-substring containment on transcripts, in
   the same batch pass, for a side that carries them (the txt channel of
   confirm_pairs) and only on rows whose Jaccard already qualifies.

Decision (confirm_pairs): pcm channel drives (audio near-dup); transcript
similarity + containment is an independent confirmation path.  All scores
are kept in the output so thresholds can be re-applied without
recomputation.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import Config
from ..functions.suffixarray import substring_contained

CONFIRMED_SCHEMA = (
    "clip_a string, clip_b string, "
    "pcm_jaccard double, txt_jaccard double, "
    "pcm_hamming int, txt_hamming int, "
    "n_bands_pcm int, n_bands_txt int, "
    "lcs int, substr boolean, is_dup boolean"
)

# _channel_scores' rows, for every channel
SCORES_SCHEMA = (
    "clip_a string, clip_b string, jaccard double, hamming int, min_n int, "
    "lcs bigint, substr boolean, has_lcs boolean"
)

# size-routed broadcast bound for the fat (clip_id, shingles) projection:
# below it, the whole channel's shingle table broadcasts — the distributed
# stand-in for CONSULT's RAM-resident index (main_search.cpp:523-658), and
# the survivors stream through it without shuffling either side.  Above it
# (the 10^12 path) Catalyst plans a shuffled join; same ceiling stance as
# ann.MAX_BROADCAST_VECTORS.  ~100k clips x ~1k int64 shingles ~= 800 MB
# worst-case on this corpus shape; the bench tier (20k clips) is well under.
MAX_BROADCAST_FAT_ROWS = 100_000
# the probe's route bound (probing.prepare_library): a library whose
# features table has at most this many rows is collected into a
# probing.LibraryIndex and broadcast, and EVERY Python worker holds its own
# copy.  Measured: ~1.4 KB of index per feature row (arrays + ids +
# transcripts; 1416 B/row on perfbench's probe_stream library, 462 rows ->
# 0.65 MB; 1373 B/row on the corpus_xs library, 254 rows), so the bound
# holds each worker's copy near 28 MB.  Above it the SQL route stays.
MAX_PROBE_INDEX_ROWS = 20_000


@dataclass(frozen=True)
class ChannelSide:
    """One channel of one side of the pair joins: the narrow
    (clip_id, simhash, n_shingles) projection the prefilter joins, the fat
    (clip_id, shingles) projection the Jaccard kernel joins —
    broadcast-hinted when its row count is bounded — and, on the txt
    channel of a verify_side, the (clip_id, transcript) rows the
    containment check reads."""

    narrow: DataFrame
    fat: DataFrame
    transcripts: DataFrame | None = None


@dataclass(frozen=True)
class VerifySide:
    """Everything verify joins to ONE member of a pair: the pcm and txt
    channels' sides.

    confirm_pairs scores ``clip_a`` against side A and ``clip_b`` against
    side B.  A self-join (every member from one table) passes one side for
    both, so each fat projection broadcasts once and serves both aliased
    joins.  The probe's SQL route passes the query batch as side A and the
    library as side B (probing.prepare_library builds that side once per
    stream when the library is above verify.MAX_PROBE_INDEX_ROWS; below it
    the probe scores against a broadcast index instead): no query ∪
    library union, and a query is always scored with its own features,
    even when a library clip has the same id."""

    pcm: ChannelSide
    txt: ChannelSide


def channel_side(features: DataFrame, kind: str, n_rows: int | None = None) -> ChannelSide:
    """features -> one channel's side (``n_rows``: see verify_side)."""
    feats = features.filter(F.col("kind") == kind)
    return ChannelSide(
        narrow=feats.select("clip_id", "simhash", "n_shingles"),
        fat=_broadcast_if_bounded(feats.select("clip_id", "shingles"), n_rows),
    )


def verify_side(features: DataFrame, clips: DataFrame, n_rows: int | None = None) -> VerifySide:
    """features (+ the clips' transcripts, on the txt channel) -> the side
    confirm_pairs joins.

    ``n_rows`` is an upper bound on the rows of every projection (a
    features table has at most one row per clip and channel, a transcripts
    table one per clip) when the caller already knows one; without it each
    fat projection and the transcripts are sized by a bounded count."""
    return VerifySide(
        pcm=channel_side(features, "pcm", n_rows),
        txt=replace(
            channel_side(features, "txt", n_rows),
            transcripts=_broadcast_if_bounded(clips.select("clip_id", "transcript"), n_rows),
        ),
    )


def _prefiltered_survivors(pairs: DataFrame, side_a: ChannelSide, side_b: ChannelSide,
                           kind: str, cfg: Config) -> DataFrame:
    """Shared prefilter ladder for one channel -> survivors = (clip_a,
    clip_b, hamming) rows that may still verify.

    Two cheap prunes run on the narrow (clip_id, simhash, n_shingles)
    projection BEFORE the shingle arrays are joined in, so pairs that cannot
    possibly verify never move the fat payload across the shuffle:

      1. SimHash Hamming <= cfg.simhash_prefilter_max (the hd() analog);
      2. containment bound: jaccard <= min_n/max_n, so if the size ratio is
         already below the pair's applicable threshold the exact jaccard
         cannot clear it — size-mismatched pairs die for 16 bytes of IO.

    Every channel's scores come through _channel_scores, so every channel
    is pruned by this one ladder."""
    def _narrow_join(p: DataFrame) -> DataFrame:
        return (
            p.select("clip_a", "clip_b")
            .join(
                side_a.narrow.withColumnsRenamed(
                    {"clip_id": "clip_a", "simhash": "simhash_a", "n_shingles": "n_a"}
                ),
                "clip_a",
            )
            .join(
                side_b.narrow.withColumnsRenamed(
                    {"clip_id": "clip_b", "simhash": "simhash_b", "n_shingles": "n_b"}
                ),
                "clip_b",
            )
        )

    carried = {f"sim_{kind}_a", f"sim_{kind}_b", f"n_{kind}_a", f"n_{kind}_b"}
    primary = bool(cfg.channels) and cfg.channels[0] == kind
    if primary and carried <= set(pairs.columns):
        # fast path: the candidate rows already carry both members'
        # fingerprints for this channel (denormalized through banding —
        # bands.py module docstring), so the prefilter needs NO join.  Only
        # pairs missing either member's fingerprint fall back to the
        # feature-table join: pairs that never co-occurred in this
        # channel's buckets (e.g. a txt-qualified pair being scored on
        # pcm), and probe pairs whose library bucket table predates the
        # denormalized columns (pairs.bucket_pairs reads them as nulls).
        # Gated to the PRIMARY channel (cfg.channels[0]) because coverage
        # follows candidate generation: the channel that produced the band
        # hits carries sims on ~every pair, while a secondary channel is
        # mostly null (measured at 480k: the txt channel of the audio
        # pipeline is ~90% null because pcm collisions dominate
        # candidates) — there the "fallback" IS the full join and the
        # have/miss split + union just adds two extra passes over the
        # candidate cache (+22s at 480k/16c, A/B-measured).
        base = pairs.select(
            "clip_a", "clip_b",
            F.col(f"sim_{kind}_a").alias("simhash_a"),
            F.col(f"sim_{kind}_b").alias("simhash_b"),
            F.col(f"n_{kind}_a").alias("n_a"),
            F.col(f"n_{kind}_b").alias("n_b"),
        )
        known = F.col("simhash_a").isNotNull() & F.col("simhash_b").isNotNull()
        have = base.filter(known)
        miss = base.filter(~known).select("clip_a", "clip_b")
        with_sim = have.unionByName(_narrow_join(miss).select(*have.columns))
    else:
        with_sim = _narrow_join(pairs)
    with_sim = with_sim.withColumn(
        "hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    )
    return with_sim.filter(
        _survives(F.col("hamming"), F.least("n_a", "n_b"), F.greatest("n_a", "n_b"), kind, cfg)
    ).select("clip_a", "clip_b", "hamming")


def _clears(score, min_n, kind: str, cfg: Config, scale=None):
    """score >= the channel's confirm threshold (times ``scale``), on Spark
    Columns and numpy arrays alike: a pcm pair whose smaller shingle set
    has fewer than cfg.low_info_floor members must clear the stricter
    cfg.low_info_jaccard (low-complexity masking, see Config); every other
    channel clears cfg.txt_jaccard_threshold."""
    def bound(thr: float):
        return thr if scale is None else thr * scale

    if kind != "pcm":
        return score >= bound(cfg.txt_jaccard_threshold)
    low = min_n < cfg.low_info_floor
    return ((low & (score >= bound(cfg.low_info_jaccard)))
            | (~low & (score >= bound(cfg.jaccard_threshold))))


def _survives(hamming, lo, hi, kind: str, cfg: Config):
    """The prefilter's keep rule for a pair with SimHash distance
    ``hamming`` and shingle-set sizes ``lo`` <= ``hi``, on Spark Columns
    and numpy arrays alike: the hd() bound, and the containment bound
    (jaccard <= lo/hi, so a pair whose size ratio is already below its
    threshold cannot verify)."""
    return (hamming <= cfg.simhash_prefilter_max) & _clears(lo, lo, kind, cfg, scale=hi)


def is_dup(pcm_jaccard, pcm_min_n, txt_jaccard, substr, cfg: Config):
    """The classification, on Spark Columns and numpy arrays alike: the pcm
    channel drives (audio near-dup), and transcript similarity plus
    suffix-array containment is an independent confirmation path.  A
    channel the prefilter dropped enters as jaccard 0, min_n 0, substr
    false."""
    return (_clears(pcm_jaccard, pcm_min_n, "pcm", cfg)
            | (_clears(txt_jaccard, None, "txt", cfg) & substr))


def _broadcast_if_bounded(df: DataFrame, n_rows: int | None = None) -> DataFrame:
    """Size-routed broadcast hint.  Catalyst's own
    size estimate broadcasts the NARROW survivors side and streams the fat
    cache — correct by size, but it puts the python scoring behind the fat
    table's partitioning and scans the shingle arrays through the join
    probe.  When the side's row count is bounded, broadcasting it instead
    is strictly better (the survivors stream in their existing
    distribution, one broadcast build serves both aliased join sides) —
    measured ~1 s off the sf0.1 verify stage.  Above the bound the hint is
    omitted so the 10^12 path keeps the shuffled join.  A caller that
    already knows a bound passes it as ``n_rows``; otherwise one bounded
    count sizes the side."""
    if n_rows is None:
        n_rows = df.select("clip_id").limit(MAX_BROADCAST_FAT_ROWS + 1).count()
    if n_rows <= MAX_BROADCAST_FAT_ROWS:
        return F.broadcast(df)
    return df


def _batch_jaccard(sh_a, sh_b):
    """Vectorized exact Jaccard over a batch of pairs, the i-th pair's
    shingle sets being sh_a[i] and sh_b[i] -> (jac float64[n], lens_a,
    lens_b).  ONE lexsort pass instead of a python loop with a sort per
    pair: tag every shingle with its pair index, lexsort (value within
    pair), and count adjacent equal values —
    each side's set is unique, so an intersection element appears exactly
    twice and lands adjacent.  Measured 6.6 s -> ~4 s on the sf0.1 verify
    stage when this replaced the per-pair loop."""
    n = len(sh_a)
    sa_list = [np.asarray(x, dtype=np.int64) for x in sh_a]
    sb_list = [np.asarray(x, dtype=np.int64) for x in sh_b]
    lens_a = np.fromiter((a.size for a in sa_list), np.int64, count=n)
    lens_b = np.fromiter((b.size for b in sb_list), np.int64, count=n)
    allv = np.concatenate(sa_list + sb_list) if (lens_a.sum() + lens_b.sum()) else np.empty(0, np.int64)
    allp = np.concatenate(
        [np.repeat(np.arange(n), lens_a), np.repeat(np.arange(n), lens_b)]
    )
    if allv.size:
        order = np.lexsort((allv, allp))
        v, p = allv[order], allp[order]
        eq = (p[1:] == p[:-1]) & (v[1:] == v[:-1])
        inter = np.bincount(p[:-1][eq], minlength=n)
    else:
        inter = np.zeros(n, dtype=np.int64)
    union = lens_a + lens_b - inter
    jac = np.divide(
        inter, union, out=np.zeros(n, dtype=np.float64), where=union > 0
    )
    return jac, lens_a, lens_b


def _containment(a, b, min_frac: float) -> tuple[bool, int]:
    """The containment ladder for one pair of transcripts -> (substr, lcs).
    A missing transcript (None, or NaN from a left join) is empty and never
    contains."""
    a = a if isinstance(a, str) else ""
    b = b if isinstance(b, str) else ""
    m = min(len(a), len(b))
    if m and (a in b or b in a):
        # full containment: LCS == the shorter text, and the min_frac test
        # is trivially met — C-level find, skips the O(n log^2 n) suffix
        # array for the dominant case (near-dup transcripts are mostly
        # equal or contained; measured ~90% of LCS-gated pairs at sf0.1)
        return True, m
    if m:
        return substring_contained(a, b, min_frac)
    return False, 0


def channel_scores(pairs: DataFrame, features: DataFrame, kind: str, cfg: Config) -> DataFrame:
    """pairs x features -> _channel_scores rows, both members from one
    feature table (the self-join).  The side carries no transcripts, so
    every row has has_lcs = false and lcs = 0."""
    side = channel_side(features, kind)
    return _channel_scores(pairs, side, side, kind, cfg)


def _channel_scores(pairs: DataFrame, side_a: ChannelSide, side_b: ChannelSide,
                    kind: str, cfg: Config) -> DataFrame:
    """The one verify scorer -> (clip_a, clip_b, jaccard, hamming, min_n,
    lcs, substr, has_lcs): the shared prefilter ladder
    (_prefiltered_survivors), the size-routed fat shingle joins, and one
    Python pass per batch.

    That pass is the vectorized Jaccard kernel (_batch_jaccard) plus, when
    both sides carry transcripts, the containment ladder on the rows whose
    jaccard clears cfg.txt_jaccard_threshold — only those pay for the
    suffix array, and has_lcs marks them.  The gate runs inside the batch
    so the txt channel is one subtree per action: a separate LCS scorer
    gated on a filtered copy of the scores makes Catalyst evaluate the
    channel twice (no cross-join subtree reuse; a localCheckpoint barrier
    A/B-measured slower than the recompute).  At sf0.1/32c confirm_pairs
    measured 2.8–3.6 s with the one pass, 4.5–6.4 s with the split form.

    Transcripts attach with LEFT joins: a clip with txt features but no
    transcripts row (e.g. an index whose transcripts table is absent)
    keeps its real jaccard/hamming and scores lcs = 0, substr = false."""
    survivors = _prefiltered_survivors(pairs, side_a, side_b, kind, cfg)
    joined = (
        survivors
        .join(side_a.fat.withColumnsRenamed({"clip_id": "clip_a", "shingles": "sh_a"}), "clip_a")
        .join(side_b.fat.withColumnsRenamed({"clip_id": "clip_b", "shingles": "sh_b"}), "clip_b")
    )
    with_lcs = side_a.transcripts is not None and side_b.transcripts is not None
    if with_lcs:
        joined = (
            joined
            .join(side_a.transcripts.withColumnsRenamed(
                {"clip_id": "clip_a", "transcript": "tr_a"}), "clip_a", "left")
            .join(side_b.transcripts.withColumnsRenamed(
                {"clip_id": "clip_b", "transcript": "tr_b"}), "clip_b", "left")
        )
    jthr = cfg.txt_jaccard_threshold
    min_frac = cfg.substr_min_frac

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            jac, lens_a, lens_b = _batch_jaccard(pdf["sh_a"], pdf["sh_b"])
            lcs = np.zeros(n, dtype=np.int64)
            ok = np.zeros(n, dtype=bool)
            has = np.zeros(n, dtype=bool)
            gated = np.flatnonzero(jac >= jthr) if with_lcs else ()
            for i in gated:
                has[i] = True
                ok[i], lcs[i] = _containment(pdf["tr_a"].iat[i], pdf["tr_b"].iat[i], min_frac)
            yield pd.DataFrame(
                {
                    "clip_a": pdf["clip_a"],
                    "clip_b": pdf["clip_b"],
                    "jaccard": jac,
                    "hamming": pdf["hamming"].astype("int32"),
                    "min_n": np.minimum(lens_a, lens_b).astype(np.int32),
                    "lcs": lcs,
                    "substr": ok,
                    "has_lcs": has,
                }
            )

    return joined.mapInPandas(score, schema=SCORES_SCHEMA)


def confirm_pairs(candidates: DataFrame, features: DataFrame, clips: DataFrame, cfg: Config,
                  side_b: VerifySide | None = None, n_rows: int | None = None) -> DataFrame:
    """Full verification -> CONFIRMED_SCHEMA rows (only pairs passing at
    least one channel's confirmation, i.e. is_dup = true).

    ``clip_a`` is scored against the side built from ``features`` and
    ``clips`` (``n_rows`` bounds its rows when the caller knows it, see
    verify_side); ``clip_b`` against ``side_b``, or against that same side
    when None — the self-join.  One _channel_scores call per channel; the
    txt call also runs the containment check, since its sides carry the
    transcripts."""
    side_a = verify_side(features, clips, n_rows)
    side_b = side_b or side_a
    pcm = _channel_scores(candidates, side_a.pcm, side_b.pcm, "pcm", cfg).select(
        "clip_a", "clip_b",
        F.col("jaccard").alias("pcm_jaccard"),
        F.col("hamming").alias("pcm_hamming"),
        F.col("min_n").alias("pcm_min_n"),
    )
    txt = _channel_scores(candidates, side_a.txt, side_b.txt, "txt", cfg).select(
        "clip_a", "clip_b",
        F.col("jaccard").alias("txt_jaccard"),
        F.col("hamming").alias("txt_hamming"),
        "lcs", "substr",
    )
    pcm_jaccard = F.coalesce("pcm_jaccard", F.lit(0.0))
    txt_jaccard = F.coalesce("txt_jaccard", F.lit(0.0))
    substr = F.coalesce("substr", F.lit(False))
    dup = is_dup(pcm_jaccard, F.coalesce("pcm_min_n", F.lit(0)), txt_jaccard, substr, cfg)
    # one select, not a withColumn chain: each withColumn re-analyzes the
    # whole plan on the driver, which a streaming epoch pays every batch
    out = (
        candidates.join(pcm, ["clip_a", "clip_b"], "left")
        .join(txt, ["clip_a", "clip_b"], "left")
        .select(
            "clip_a", "clip_b",
            pcm_jaccard.alias("pcm_jaccard"),
            txt_jaccard.alias("txt_jaccard"),
            F.coalesce("pcm_hamming", F.lit(64)).cast("int").alias("pcm_hamming"),
            F.coalesce("txt_hamming", F.lit(64)).cast("int").alias("txt_hamming"),
            F.col("n_bands_pcm").cast("int").alias("n_bands_pcm"),
            F.col("n_bands_txt").cast("int").alias("n_bands_txt"),
            F.coalesce("lcs", F.lit(0)).cast("int").alias("lcs"),
            substr.alias("substr"),
            dup.alias("is_dup"),
        )
    )
    return out.filter(F.col("is_dup"))
