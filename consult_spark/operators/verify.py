"""Candidate-pair verification: SimHash prefilter -> exact Jaccard ->
suffix-array substring check -> threshold classification.

CONSULT verifies and classifies each candidate in one loop: an exact
Hamming check (hd(b, candidate) <= p, main_search.cpp:867, 1238-1259)
before it counts toward the read's match threshold (matched >= c,
main_search.cpp:883-894).  Here every channel (pcm, txt, img, vid) of every
caller is scored by ONE numpy kernel, _score_channel, whose ladder runs
cheapest first over a batch of pairs:

1. SimHash Hamming prefilter on the 8-byte fingerprints (the direct hd()
   analog), plus the size-ratio containment bound (_survives).  Only
   survivors pay for their shingle sets.
2. Exact Jaccard re-score on the survivors' full shingle sets
   (_batch_jaccard).
3. Suffix-array longest-common-substring containment on transcripts, for
   the channel given them (txt) and only on rows whose Jaccard already
   qualifies (_containment).

Two drivers feed it: _scored, the one Spark pass of confirm_pairs,
channel_scores and the media job (fingerprints attached to every pair,
shingle sets and transcripts only where a channel's prefilter keeps the
pair, then one mapInArrow over every channel, so the Python boundary is
paid once per Arrow batch as in *Accelerating Python UDFs in Vectorized
Query Execution*, CIDR 2022), and the probe's index route
(probing._probe_rows), which reads a broadcast library's arrays.

Decision (confirm_pairs): pcm channel drives (audio near-dup); transcript
similarity + containment is an independent confirmation path.  All scores
are kept in the output so thresholds can be re-applied without
recomputation.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, IntegerType, LongType

from ..config import Config
from ..functions.suffixarray import substring_contained

# the channels confirm_pairs scores and classifies on
CHANNELS = ("pcm", "txt")

CONFIRMED_SCHEMA = (
    "clip_a string, clip_b string, "
    "pcm_jaccard double, txt_jaccard double, "
    "pcm_hamming int, txt_hamming int, "
    "n_bands_pcm int, n_bands_txt int, "
    "lcs int, substr boolean, is_dup boolean"
)

# size-routed broadcast bound for the fat (clip_id, shingles) projection:
# below it, the whole channel's shingle table broadcasts — the distributed
# stand-in for CONSULT's RAM-resident index (main_search.cpp:523-658), and
# the pairs stream through it without shuffling either side.  Above it
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
    (clip_id, simhash, n_shingles) projection the prefilter reads, the fat
    (clip_id, shingles) projection the Jaccard kernel reads —
    broadcast-hinted when its row count is bounded — and, on the txt
    channel of a side built with clips, the (clip_id, transcript) rows the
    containment check reads."""

    narrow: DataFrame
    fat: DataFrame
    transcripts: DataFrame | None = None


# Everything verify joins to ONE member of a pair: one ChannelSide per
# channel.  confirm_pairs scores ``clip_a`` against side A and ``clip_b``
# against side B.  A self-join (every member from one table) passes one
# side for both, so each fat projection broadcasts once and serves both
# aliased joins.  The probe's SQL route passes the query batch as side A
# and the library as side B (probing.prepare_library builds that side once
# per stream): no query ∪ library union, and a query is always scored with
# its own features, even when a library clip has the same id.
VerifySide = dict[str, ChannelSide]


def verify_side(features: DataFrame, clips: DataFrame | None = None, n_rows: int | None = None,
                kinds: Sequence[str] = CHANNELS) -> VerifySide:
    """features (+ the clips' transcripts, on the txt channel) -> the side
    _scored joins, one ChannelSide per kind.

    ``n_rows`` bounds the rows of every projection when the caller knows
    one.  Without it, one count of ``features`` per kind (a single
    aggregation job) sizes each kind's fat projection exactly, and the
    largest of those counts bounds the transcripts: a clip featurizes to
    one row per channel, so no channel has fewer rows than the clips'
    one-row-per-clip transcripts.  A projection at or below
    MAX_BROADCAST_FAT_ROWS is broadcast: Catalyst's own size estimate
    would broadcast the narrow pair side and stream the fat table instead,
    which puts the Python scoring behind the fat table's partitioning and
    scans the shingle arrays through the join probe (broadcasting the fat
    side measured ~1 s off the sf0.1 verify stage).  Above it the hint is
    omitted, so the 10^12 path keeps the shuffled join."""
    if n_rows is None:
        counts = dict(features.groupBy("kind").count().collect())
        rows = {kind: counts.get(kind, 0) for kind in kinds}
        rows["transcripts"] = max(counts.values(), default=0)
    else:
        rows = dict.fromkeys((*kinds, "transcripts"), n_rows)

    def bounded(df: DataFrame, n: int) -> DataFrame:
        return F.broadcast(df) if n <= MAX_BROADCAST_FAT_ROWS else df

    side = {}
    for kind in kinds:
        feats = features.filter(F.col("kind") == kind)
        side[kind] = ChannelSide(
            narrow=feats.select("clip_id", "simhash", "n_shingles"),
            fat=bounded(feats.select("clip_id", "shingles"), rows[kind]),
            transcripts=(bounded(clips.select("clip_id", "transcript"), rows["transcripts"])
                         if kind == "txt" and clips is not None else None),
        )
    return side


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
    A missing transcript (None) is empty and never contains."""
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


def _popcount(x: np.ndarray) -> np.ndarray:
    return np.unpackbits(x.astype(np.int64).view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)


def _score_channel(kind: str, sim_a: np.ndarray, sim_b: np.ndarray, n_a: np.ndarray | None,
                   n_b: np.ndarray | None, shingles: Callable, transcripts: Callable | None,
                   cfg: Config, kept: np.ndarray | None = None) -> dict[str, np.ndarray]:
    """The one verify kernel: one channel's ladder over a batch of pairs.

    Pair i has SimHashes ``sim_a[i]``, ``sim_b[i]`` and shingle-set sizes
    ``n_a[i]``, ``n_b[i]`` (-1: that member has no feature row in this
    channel); the prefilter (_survives) keeps the pairs it scores.  A
    caller that has already applied the prefilter passes its verdict as
    ``kept`` instead, and the sizes are not read.  ``shingles(idx)`` gives
    the shingle sets of the pairs ``idx`` as (sets_a, sets_b), and
    ``transcripts(idx)`` their transcripts as (texts_a, texts_b); the
    kernel asks only for the kept pairs' sets and only for the transcripts
    of kept pairs whose jaccard clears cfg.txt_jaccard_threshold.  Without
    ``transcripts`` (every channel but txt) no containment check runs.

    -> per pair: ``scored`` (the prefilter kept it), ``jaccard``,
    ``hamming``, ``min_n`` (the smaller set's length), ``lcs`` and
    ``substr``; a pair not scored holds jaccard 0, hamming 64, min_n 0,
    lcs 0, substr false."""
    n = len(sim_a)
    out = {"scored": np.zeros(n, bool), "jaccard": np.zeros(n), "hamming": np.full(n, 64),
           "min_n": np.zeros(n, np.int64), "lcs": np.zeros(n, np.int64),
           "substr": np.zeros(n, bool)}
    hamming = _popcount(sim_a ^ sim_b)
    if kept is None:
        lo, hi = np.minimum(n_a, n_b), np.maximum(n_a, n_b)
        kept = (lo >= 0) & _survives(hamming, lo, hi, kind, cfg)
    idx = np.flatnonzero(kept)
    if not len(idx):
        return out
    jac, lens_a, lens_b = _batch_jaccard(*shingles(idx))
    out["scored"][idx] = True
    out["jaccard"][idx] = jac
    out["hamming"][idx] = hamming[idx]
    out["min_n"][idx] = np.minimum(lens_a, lens_b)
    if transcripts is not None:
        gated = idx[jac >= cfg.txt_jaccard_threshold]
        for i, a, b in zip(gated, *transcripts(gated)):
            out["substr"][i], out["lcs"][i] = _containment(a, b, cfg.substr_min_frac)
    return out


def _left_join(df: DataFrame, right: DataFrame, member: str, names: dict[str, str],
               cond: Column | None = None) -> DataFrame:
    """df LEFT JOIN ``right`` on clip_<member> = right.clip_id (and
    ``cond``), right's columns renamed by ``names``: a row the condition
    rejects keeps nulls and costs no payload."""
    key = f"_id_{member}"
    on = F.col(f"clip_{member}") == F.col(key)
    right = right.withColumnsRenamed({"clip_id": key, **names})
    return df.join(right, on if cond is None else on & cond, "left").drop(key)


def _sets(col: pa.ListArray, idx: np.ndarray) -> list[np.ndarray]:
    """The list values of rows ``idx`` (none null), as numpy arrays."""
    picked = col.take(idx)
    ends = np.cumsum(pc.list_value_length(picked).to_numpy())
    return np.split(pc.list_flatten(picked).to_numpy(), ends[:-1])


def _scored(pairs: DataFrame, side_a: VerifySide, side_b: VerifySide, kinds: Sequence[str],
            cfg: Config, keep: Sequence[str] | None = None) -> DataFrame:
    """The one Spark verify pass -> the ``keep`` columns of ``pairs`` (all
    of them by default) plus, per kind, ``<kind>_jaccard``,
    ``<kind>_hamming`` and ``<kind>_min_n``, null where that channel did
    not score the pair (no feature row on a side, or the prefilter dropped
    it); and ``lcs`` and ``substr`` of the channel whose sides both carry
    transcripts, under the same nulls.  Every pair comes out, once.

    Three attachments per kind, each a left join on each member, then ONE
    mapInArrow calling _score_channel per kind:

    1. the narrow fingerprints, on every pair.  The pairs may carry the
       primary channel's fingerprints (denormalized through banding,
       bands.py module docstring), but in one pass a carried pair would
       still pay the join's probe, so every kind joins the same way;
    2. the fat shingle sets, only where the kind's prefilter (_survives)
       keeps the pair, size-routed by verify_side: a dropped pair costs a
       hash probe and no payload.  That condition, ``_ok_<kind>``, is also
       the kernel's ``kept``, so a pair is scored exactly when its sets
       were joined;
    3. the transcripts, on the same condition, where both sides carry
       them.

    The containment check runs in the batch of the Jaccard that gates it:
    a separate LCS scorer over a filtered copy of the scores made Catalyst
    evaluate the channel twice (at sf0.1/32c confirm_pairs measured
    2.8–3.6 s in one pass, 4.5–6.4 s split).  Arrow, not pandas, crosses
    the boundary: the pass carries the pairs' nullable bigint columns (the
    denormalized SimHashes) through unchanged, which pandas would turn
    into float64."""
    keep = list(pairs.columns if keep is None else keep)
    lcs_kinds = [k for k in kinds
                 if side_a[k].transcripts is not None and side_b[k].transcripts is not None]

    df = pairs
    for m, side in (("a", side_a), ("b", side_b)):
        for kind in kinds:
            df = _left_join(df, side[kind].narrow, m,
                            {"simhash": f"_sim_{kind}_{m}", "n_shingles": f"_n_{kind}_{m}"})
    ok = []
    for kind in kinds:
        sim_a, sim_b, n_a, n_b = (F.col(f"_{c}_{kind}_{m}") for c in ("sim", "n") for m in "ab")
        ok.append(F.coalesce(_survives(F.bit_count(sim_a.bitwiseXOR(sim_b)), F.least(n_a, n_b),
                                       F.greatest(n_a, n_b), kind, cfg), F.lit(False))
                  .alias(f"_ok_{kind}"))
    df = df.select(*keep, *(f"_sim_{kind}_{m}" for kind in kinds for m in "ab"), *ok)
    # clip_b first: on the shuffled route these joins reuse the fingerprint
    # joins' clip_b partitioning
    for m, side in (("b", side_b), ("a", side_a)):
        for kind in kinds:
            df = _left_join(df, side[kind].fat, m, {"shingles": f"_sh_{kind}_{m}"},
                            F.col(f"_ok_{kind}"))
            if kind in lcs_kinds:
                df = _left_join(df, side[kind].transcripts, m,
                                {"transcript": f"_tr_{kind}_{m}"}, F.col(f"_ok_{kind}"))

    schema = df.select(*keep).schema
    for kind in kinds:
        schema = (schema.add(f"{kind}_jaccard", DoubleType())
                  .add(f"{kind}_hamming", IntegerType()).add(f"{kind}_min_n", IntegerType()))
        if kind in lcs_kinds:
            schema = schema.add("lcs", LongType()).add("substr", BooleanType())

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            out = [rb.column(c) for c in keep]
            for kind in kinds:
                def both(name: str, fn: Callable) -> list:
                    return [fn(rb.column(f"_{name}_{kind}_{m}")) for m in "ab"]

                s = _score_channel(
                    kind, *both("sim", lambda c: pc.fill_null(c, 0).to_numpy()), None, None,
                    lambda idx: both("sh", lambda c: _sets(c, idx)),
                    (lambda idx: both("tr", lambda c: c.take(idx).to_pylist()))
                    if kind in lcs_kinds else None,
                    cfg, kept=rb.column(f"_ok_{kind}").to_numpy(zero_copy_only=False))
                null = ~s["scored"]
                out += [pa.array(s["jaccard"], mask=null),
                        pa.array(s["hamming"], pa.int32(), mask=null),
                        pa.array(s["min_n"], pa.int32(), mask=null)]
                if kind in lcs_kinds:
                    out += [pa.array(s["lcs"], mask=null), pa.array(s["substr"], mask=null)]
            yield pa.RecordBatch.from_arrays(out, names=schema.fieldNames())

    return df.mapInArrow(score, schema)


def channel_scores(pairs: DataFrame, features: DataFrame, kind: str, cfg: Config) -> DataFrame:
    """pairs x features -> one row per pair the channel's prefilter keeps:
    (clip_a, clip_b, jaccard, hamming, min_n, lcs, substr, has_lcs), both
    members from one feature table (the self-join).  The side carries no
    transcripts, so every row has lcs = 0 and substr = has_lcs = false."""
    side = verify_side(features, kinds=(kind,))
    return _scored(pairs, side, side, (kind,), cfg, keep=("clip_a", "clip_b")).filter(
        F.col(f"{kind}_jaccard").isNotNull()
    ).select(
        "clip_a", "clip_b",
        F.col(f"{kind}_jaccard").alias("jaccard"),
        F.col(f"{kind}_hamming").alias("hamming"),
        F.col(f"{kind}_min_n").alias("min_n"),
        F.lit(0).cast("bigint").alias("lcs"),
        F.lit(False).alias("substr"),
        F.lit(False).alias("has_lcs"),
    )


def confirm_pairs(candidates: DataFrame, features: DataFrame, clips: DataFrame, cfg: Config,
                  side_b: VerifySide | None = None, n_rows: int | None = None) -> DataFrame:
    """Full verification -> CONFIRMED_SCHEMA rows (only pairs passing at
    least one channel's confirmation, i.e. is_dup = true).

    ``clip_a`` is scored against the side built from ``features`` and
    ``clips`` (``n_rows`` bounds its rows when the caller knows it, see
    verify_side); ``clip_b`` against ``side_b``, or against that same side
    when None — the self-join.  One _scored pass over the pcm and txt
    channels; the txt channel also runs the containment check, since its
    sides carry the transcripts.  A channel the pass did not score counts
    as jaccard 0, hamming 64, lcs 0, substr false."""
    side_a = verify_side(features, clips, n_rows)
    scored = _scored(candidates, side_a, side_b or side_a, CHANNELS, cfg,
                     keep=("clip_a", "clip_b", "n_bands_pcm", "n_bands_txt"))
    pcm_jaccard = F.coalesce("pcm_jaccard", F.lit(0.0))
    txt_jaccard = F.coalesce("txt_jaccard", F.lit(0.0))
    substr = F.coalesce("substr", F.lit(False))
    dup = is_dup(pcm_jaccard, F.coalesce("pcm_min_n", F.lit(0)), txt_jaccard, substr, cfg)
    # one select, not a withColumn chain: each withColumn re-analyzes the
    # whole plan on the driver, which a streaming epoch pays every batch
    return scored.select(
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
    ).filter(F.col("is_dup"))
