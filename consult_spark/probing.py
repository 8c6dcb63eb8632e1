"""Query-vs-library probe core: featurize query clips, band them, look them
up in a prebuilt `lsh_buckets` index, verify candidates exactly.

The one probe flow CONSULT runs per `./main_search` invocation
(main_search.cpp:684-1061), shared verbatim by the batch search job
(jobs/search.py) and the continuous streaming probe
(streaming/probe.py) so both surfaces classify identically.

CONSULT loads its index into RAM once and then streams each query record
through lookup, exact verify and classify in one loop (main_search.cpp:
523-658, 867, 883-894).  The same split here: prepare_library builds the
library side once, and probe_batch probes one batch of queries against
it.  The route is chosen once, in prepare_library, by the library's size:

* index route (the library's features fit under
  verify.MAX_PROBE_INDEX_ROWS): the library is collected to the driver
  once, as a LibraryIndex of flat numpy arrays, and shipped with
  ``sc.broadcast`` — the broadcast-the-indexed-side plan of *Implementing
  Distributed Similarity Joins using LSH* (EDBT 2022).  Python workers are
  reused and keep a broadcast value across jobs, so the library crosses
  to each worker once per stream, not once per batch.  A batch is then ONE
  mapInPandas pass (_probe_rows, paying the Python boundary once per Arrow
  batch as in *Accelerating Python UDFs in Vectorized Query Execution*,
  CIDR 2022): featurize, probe the band index, roll up, prefilter, score
  and classify, emitting the matched pairs and one row per unmatched
  query, tagged.
* SQL route (above the bound): the bucket table and verify's library-side
  projections stay DataFrames; a batch is probe_clips' plan
  (pairs.probe_candidates + verify.confirm_pairs with the library as side
  B) and its unmatched queries an anti-join.

Both routes give the same rows; tests/test_probe_routes.py pins them to
each other.  A query whose id equals a library clip's id is scored with its
own features; only the (id, id) pair is skipped.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import Broadcast
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import Config
from .operators import bands as bands_op
from .operators import pairs as pairs_op
from .operators import shingle as shingle_op
from .operators import verify as verify_op

TRANSCRIPTS_SCHEMA = "clip_id string, transcript string"
CHANNELS = ("pcm", "txt")

# the index pass's rows: CONFIRMED_SCHEMA plus a tag — UNMATCHED (one row
# per query with no confirmed pair: clip_a = the query, clip_b null),
# FIRST_PAIR (a query's first confirmed pair) or PAIR (its others)
TAGGED_SCHEMA = verify_op.CONFIRMED_SCHEMA + ", tag int"
UNMATCHED, FIRST_PAIR, PAIR = 0, 1, 2


@dataclass(frozen=True)
class ChannelIndex:
    """One channel of a LibraryIndex, as flat arrays.

    Feature rows: ``row_of[ordinal]`` is a library clip's row in this
    channel (-1: none); row r has ``simhash[r]``, ``n_shingles[r]`` and the
    shingle set ``shingles[offsets[r]:offsets[r + 1]]``.

    Band index (the capped lsh_buckets rows of this channel): band table l's
    distinct band hashes are ``keys[table_off[l]:table_off[l + 1]]``,
    sorted; key k's members are the clip ordinals
    ``members[member_off[k]:member_off[k + 1]]``."""

    row_of: np.ndarray
    simhash: np.ndarray
    n_shingles: np.ndarray
    offsets: np.ndarray
    shingles: np.ndarray
    table_off: np.ndarray
    keys: np.ndarray
    member_off: np.ndarray
    members: np.ndarray

    def shingle_set(self, row: int) -> np.ndarray:
        return self.shingles[self.offsets[row]:self.offsets[row + 1]]

    def band_hits(self, bands: np.ndarray, queries: np.ndarray):
        """bands[i] (one band hash per table) of query ``queries[i]`` ->
        (query, library ordinal) arrays, one element per bucket hit."""
        qs, libs = [], []
        for t in range(min(bands.shape[1], len(self.table_off) - 1)):
            lo, hi = self.table_off[t], self.table_off[t + 1]
            pos = np.searchsorted(self.keys[lo:hi], bands[:, t])
            found = pos < hi - lo
            found[found] = self.keys[lo + pos[found]] == bands[found, t]
            k = lo + pos[found]
            starts, lens = self.member_off[k], self.member_off[k + 1] - self.member_off[k]
            qs.append(np.repeat(queries[found], lens))
            libs.append(self.members[_ranges(starts, lens)])
        if not qs:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(qs), np.concatenate(libs).astype(np.int64)


@dataclass(frozen=True)
class LibraryIndex:
    """The library a probe pass reads: ``clip_ids`` sorted (a clip's
    ordinal is its position), ``transcripts`` per ordinal (None: none) and
    one ChannelIndex per channel the library has."""

    clip_ids: np.ndarray
    transcripts: np.ndarray
    channels: dict[str, ChannelIndex]

    def ordinals(self, ids: np.ndarray) -> np.ndarray:
        return _ordinals(self.clip_ids, ids)


def _ordinals(clip_ids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """ids -> their positions in the sorted ``clip_ids``, -1 for ids not in
    it."""
    pos = np.searchsorted(clip_ids, ids)
    hit = pos < len(clip_ids)
    hit[hit] = clip_ids[pos[hit]] == ids[hit]
    return np.where(hit, pos, -1)


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + n)`` for each (s, n)."""
    total = int(lens.sum())
    if not total:
        return np.empty(0, np.int64)
    ends = np.cumsum(lens)
    return np.repeat(starts - (ends - lens), lens) + np.arange(total)


def _strings(col) -> np.ndarray:
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=str)


def build_index(buckets: pa.Table, features: pa.Table,
                transcripts: pa.Table | None) -> LibraryIndex:
    """The library's bucket table (kind, table_l, band_hash, clip_id), its
    features (clip_id, kind, simhash, n_shingles, shingles) and its
    transcripts (clip_id, transcript), collected -> a LibraryIndex."""
    clip_ids = np.unique(np.concatenate([_strings(features["clip_id"]),
                                         _strings(buckets["clip_id"])]))
    texts = np.full(len(clip_ids), None, dtype=object)
    if transcripts is not None and transcripts.num_rows:
        ords = _ordinals(clip_ids, _strings(transcripts["clip_id"]))
        known = ords >= 0
        texts[ords[known]] = transcripts["transcript"].to_numpy(zero_copy_only=False)[known]
    channels = {}
    for kind in CHANNELS:
        feats = features.filter(pc.equal(features["kind"], kind))
        if not feats.num_rows:
            continue
        row_of = np.full(len(clip_ids), -1, np.int64)
        row_of[_ordinals(clip_ids, _strings(feats["clip_id"]))] = np.arange(feats.num_rows)
        lens = pc.list_value_length(feats["shingles"]).fill_null(0).to_numpy()
        offsets = np.zeros(len(lens) + 1, np.int64)
        np.cumsum(lens, out=offsets[1:])
        bk = buckets.filter(pc.equal(buckets["kind"], kind))
        table = bk["table_l"].to_numpy().astype(np.int64)
        band = bk["band_hash"].to_numpy().astype(np.int64)
        member = _ordinals(clip_ids, _strings(bk["clip_id"]))
        order = np.lexsort((member, band, table))
        table, band, member = table[order], band[order], member[order]
        new_key = np.ones(len(band), bool)
        new_key[1:] = (table[1:] != table[:-1]) | (band[1:] != band[:-1])
        starts = np.flatnonzero(new_key)
        n_tables = int(table.max()) + 1 if len(table) else 0
        channels[kind] = ChannelIndex(
            row_of=row_of,
            simhash=feats["simhash"].to_numpy().astype(np.int64),
            n_shingles=feats["n_shingles"].to_numpy().astype(np.int64),
            offsets=offsets,
            shingles=pc.list_flatten(feats["shingles"]).to_numpy().astype(np.int32),
            table_off=np.searchsorted(table[starts], np.arange(n_tables + 1)),
            keys=band[starts],
            member_off=np.append(starts, len(band)),
            members=member.astype(np.int32),
        )
    return LibraryIndex(clip_ids, texts, channels)


@dataclass(frozen=True)
class ProbeLibrary:
    """The library side of every probe, on the route prepare_library chose:
    ``index`` (the broadcast LibraryIndex) on the index route, ``buckets``
    and ``side`` (verify's side B) on the SQL route.  ``persisted`` are the
    frames prepare_library persisted; release() frees them and the
    broadcast once no probe will run again."""

    index: Broadcast | None = None
    buckets: DataFrame | None = None
    side: verify_op.VerifySide | None = None
    persisted: tuple[DataFrame, ...] = ()

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        if self.index is not None:
            self.index.destroy()


def prepare_library(spark: SparkSession, lib_buckets: DataFrame, lib_features: DataFrame,
                    lib_transcripts: DataFrame | None, persist: bool = False) -> ProbeLibrary:
    """Build the library side once, on the route its size picks.  One
    bounded count of the feature table (at least as many rows as any one
    channel, and as the one-row-per-clip transcripts) both picks the route
    and sizes the SQL route's projections.

    Index route: the three tables are read once each, by an Arrow collect,
    into a LibraryIndex, broadcast to the workers; nothing is persisted.
    SQL route: with ``persist`` (a caller that probes many batches, the
    streaming probe) the library frames are persisted.  A pcm-only index
    has no transcripts table: every pair then scores lcs = 0."""
    n_rows = lib_features.limit(verify_op.MAX_BROADCAST_FAT_ROWS + 1).count()
    if n_rows <= verify_op.MAX_PROBE_INDEX_ROWS:
        index = build_index(
            lib_buckets.select("kind", "table_l", "band_hash", "clip_id").toArrow(),
            lib_features.select("clip_id", "kind", "simhash", "n_shingles", "shingles").toArrow(),
            None if lib_transcripts is None
            else lib_transcripts.select("clip_id", "transcript").toArrow(),
        )
        return ProbeLibrary(index=spark.sparkContext.broadcast(index))
    tr = (lib_transcripts if lib_transcripts is not None
          else spark.createDataFrame([], TRANSCRIPTS_SCHEMA))
    if persist:
        lib_buckets, lib_features, tr = (df.persist() for df in (lib_buckets, lib_features, tr))
        # build the feature cache now, not inside the first probe's jobs
        lib_features.count()
    return ProbeLibrary(buckets=lib_buckets, side=verify_op.verify_side(lib_features, tr, n_rows),
                        persisted=(lib_buckets, lib_features, tr) if persist else ())


def probe_clips(
    spark: SparkSession,
    queries: DataFrame,
    library: ProbeLibrary,
    cfg: Config,
    cache_registry: list | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """The SQL route -> confirmed pairs (clip_a = query_id, clip_b =
    lib_id), verified through the full ladder (SimHash prefilter, exact
    Jaccard, suffix-array containment) against a SQL-route library.

    The query features feed banding and verify's query side, so they are
    persisted rather than decoded twice.  ``n_queries`` (the caller's row
    count of ``queries``) bounds every query-side projection, so sizing
    the query side costs no count; without it verify counts each one.
    Pass ``cache_registry`` to persist the candidates too — confirm_pairs
    reads them three times (pcm scores, txt scores, the final join) — and
    to receive every persisted frame for unpersist once the returned plan
    has been fully materialized.  Without it the query features stay
    persisted for the rest of the session."""
    q_features = shingle_op.featurize(queries, cfg).persist()
    cands = pairs_op.probe_candidates(bands_op.explode_bands(q_features), library.buckets, cfg)
    if cache_registry is not None:
        cands = cands.persist()
        cache_registry.extend([q_features, cands])
    # transcripts for the suffix-array check: pcm-only queries score
    # lcs = 0 instead of failing on a missing column
    q_tr = (
        queries.select("clip_id", "transcript")
        if "transcript" in queries.columns
        else spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    )
    return verify_op.confirm_pairs(cands, q_features, q_tr, cfg,
                                   side_b=library.side, n_rows=n_queries)


@dataclass(frozen=True)
class ProbedBatch:
    """One probed batch: ``matched`` (CONFIRMED_SCHEMA rows) and
    ``unmatched`` (clip_id rows), each a plan to write once; ``cached``, the
    frames to unpersist after both writes.  counts() reads the batch's
    numbers off those two writes (each carries an Observation), so counting
    costs no job."""

    matched: DataFrame
    unmatched: DataFrame
    cached: list[DataFrame]
    observed: tuple[Observation, Observation]
    n_queries: int | None = None  # known up front on the SQL route

    def counts(self) -> dict[str, int]:
        """After both writes -> n_queries, n_matched_pairs, n_matched_clips,
        n_unmatched."""
        pairs, unmatched = (o.get for o in self.observed)
        n_q = self.n_queries if self.n_queries is not None else pairs["n_clips"] + unmatched["n"]
        return {"n_queries": n_q, "n_matched_pairs": pairs["n"],
                "n_matched_clips": n_q - unmatched["n"], "n_unmatched": unmatched["n"]}


def _n_rows():
    return F.count(F.lit(1)).alias("n")


def probe_batch(spark: SparkSession, queries: DataFrame, library: ProbeLibrary, cfg: Config,
                n_queries: int | None = None) -> ProbedBatch:
    """Probe one batch of query clips (unique ids) against a library from
    prepare_library, on its route.  ``n_queries``: the caller's row count
    of ``queries``, if it has one, which sizes the SQL route's query side;
    without it that route persists and counts the batch."""
    pairs_obs, unmatched_obs = Observation(), Observation()
    if library.index is not None:
        tagged = _probe_pass(queries, library.index, cfg).persist()
        tag = F.col("tag")
        return ProbedBatch(
            matched=tagged.filter(tag != UNMATCHED)
            .observe(pairs_obs, _n_rows(), F.count_if(tag == FIRST_PAIR).alias("n_clips"))
            .drop("tag"),
            unmatched=tagged.filter(tag == UNMATCHED).observe(unmatched_obs, _n_rows())
            .select(F.col("clip_a").alias("clip_id")),
            cached=[tagged], observed=(pairs_obs, unmatched_obs))
    cached: list[DataFrame] = []
    if n_queries is None:
        queries = queries.persist()
        cached.append(queries)
        n_queries = queries.count()
    confirmed = probe_clips(spark, queries, library, cfg, cache_registry=cached,
                            n_queries=n_queries).persist()
    cached.append(confirmed)
    # a query clip only probes in its own batch, so its unmatched = batch
    # ids minus its hits — O(batch)
    unmatched = queries.select("clip_id").join(
        confirmed.select(F.col("clip_a").alias("clip_id")), "clip_id", "left_anti")
    return ProbedBatch(confirmed.observe(pairs_obs, _n_rows()),
                       unmatched.observe(unmatched_obs, _n_rows()),
                       cached, (pairs_obs, unmatched_obs), n_queries)


def _probe_pass(queries: DataFrame, index: Broadcast, cfg: Config) -> DataFrame:
    """The index route's one mapInPandas over the batch -> TAGGED_SCHEMA
    rows.  Reads the clip columns featurize reads, under featurize's
    decoder-registry snapshot."""
    shinglers = shingle_op.clip_shinglers(cfg)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        library = index.value
        for pdf in batches:
            if len(pdf):
                yield _probe_rows(pdf, library, shinglers, cfg)

    return queries.select(*shingle_op._source_columns(shinglers)).mapInPandas(
        shingle_op._with_decoders(run), schema=TAGGED_SCHEMA)


def _popcount(x: np.ndarray) -> np.ndarray:
    return np.unpackbits(x.astype(np.int64).view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)


def _probe_rows(pdf: pd.DataFrame, library: LibraryIndex, shinglers: dict,
                cfg: Config) -> pd.DataFrame:
    """One Arrow batch of query clips -> TAGGED_SCHEMA rows: the SQL
    route's semantics, step for step.

    1. featurize: shingle._shingle_rows (decode failures included);
    2. probe: each query band row (non-empty sets only, as
       bands.explode_bands) meets its bucket's capped members; a library
       clip with the query's own id is skipped;
    3. roll up: a pair qualifies when some single channel reaches
       cfg.min_common_bands hits (pairs._rollup);
    4. prefilter each channel (verify._survives); a channel with no row on
       either side, or that the prefilter drops, scores jaccard 0,
       hamming 64, lcs 0, substr false — the SQL route's coalesced output;
    5. score the survivors with verify._batch_jaccard, run the txt
       containment ladder (verify._containment) where the jaccard clears
       cfg.txt_jaccard_threshold, and classify with verify.is_dup."""
    feats = shingle_op._shingle_rows(pdf, shinglers, cfg)
    n_q, n_lib = len(pdf), len(library.clip_ids)
    qids = pdf["clip_id"].to_numpy(dtype=object)
    # _shingle_rows emits query i's kind j at row i * len(shinglers) + j
    q = {kind: feats.iloc[j::len(shinglers)].reset_index(drop=True)
         for j, kind in enumerate(shinglers)}

    hits = {}
    for kind, ch in library.channels.items():
        if kind not in q:
            continue
        banded = np.flatnonzero(q[kind]["n_shingles"].to_numpy() > 0)
        if not len(banded):
            continue
        qi, lib = ch.band_hits(np.stack(q[kind]["bands"].to_numpy()[banded]), banded)
        hits[kind] = np.unique(qi * n_lib + lib, return_counts=True)
    pair = np.unique(np.concatenate([c for c, _ in hits.values()] or [np.empty(0, np.int64)]))
    per_kind = {}
    for kind in CHANNELS:
        per_kind[kind] = np.zeros(len(pair), np.int64)
        if kind in hits:
            per_kind[kind][np.searchsorted(pair, hits[kind][0])] = hits[kind][1]
    qi, lib = (pair // n_lib, pair % n_lib) if n_lib else (pair, pair)
    own = library.ordinals(qids.astype(str))
    keep = (lib != own[qi]) & (np.maximum(*per_kind.values()) >= cfg.min_common_bands)
    qi, lib = qi[keep], lib[keep]
    per_kind = {k: v[keep] for k, v in per_kind.items()}

    scores = {kind: _channel_scores(kind, qi, lib, q.get(kind), library, pdf, cfg)
              for kind in CHANNELS}
    pcm, txt = scores["pcm"], scores["txt"]
    dup = np.flatnonzero(verify_op.is_dup(pcm["jaccard"], pcm["min_n"], txt["jaccard"],
                                         txt["substr"], cfg))
    mq = qi[dup]
    tag = np.full(len(dup), PAIR, np.int32)
    tag[np.r_[True, mq[1:] != mq[:-1]][:len(dup)]] = FIRST_PAIR
    alone = np.setdiff1d(np.arange(n_q), mq)

    def col(values: np.ndarray, dtype, fill) -> np.ndarray:
        return np.concatenate([values[dup], np.full(len(alone), fill)]).astype(dtype)

    return pd.DataFrame({
        "clip_a": np.concatenate([qids[mq], qids[alone]]),
        "clip_b": np.concatenate([library.clip_ids[lib[dup]].astype(object),
                                  np.full(len(alone), None, dtype=object)]),
        "pcm_jaccard": col(pcm["jaccard"], np.float64, 0.0),
        "txt_jaccard": col(txt["jaccard"], np.float64, 0.0),
        "pcm_hamming": col(pcm["hamming"], np.int32, 64),
        "txt_hamming": col(txt["hamming"], np.int32, 64),
        "n_bands_pcm": col(per_kind["pcm"], np.int32, 0),
        "n_bands_txt": col(per_kind["txt"], np.int32, 0),
        "lcs": col(txt["lcs"], np.int32, 0),
        "substr": col(txt["substr"], bool, False),
        "is_dup": np.concatenate([np.ones(len(dup), bool), np.zeros(len(alone), bool)]),
        "tag": np.concatenate([tag, np.full(len(alone), UNMATCHED, np.int32)]),
    })


def _channel_scores(kind: str, qi: np.ndarray, lib: np.ndarray, q: pd.DataFrame | None,
                    library: LibraryIndex, pdf: pd.DataFrame, cfg: Config) -> dict:
    """One channel's scores of the pairs (query qi[i], library clip
    lib[i]), as verify._channel_scores gives them after confirm_pairs'
    coalesce."""
    n = len(qi)
    out = {"jaccard": np.zeros(n), "hamming": np.full(n, 64), "min_n": np.zeros(n, np.int64),
           "lcs": np.zeros(n, np.int64), "substr": np.zeros(n, bool)}
    ch = library.channels.get(kind)
    if ch is None or q is None or not n:
        return out
    rows = ch.row_of[lib]
    present = rows >= 0
    rows = np.where(present, rows, 0)
    n_a, n_b = q["n_shingles"].to_numpy()[qi], ch.n_shingles[rows]
    hamming = _popcount(q["simhash"].to_numpy()[qi] ^ ch.simhash[rows])
    idx = np.flatnonzero(present & verify_op._survives(
        hamming, np.minimum(n_a, n_b), np.maximum(n_a, n_b), kind, cfg))
    if not len(idx):
        return out
    shingles = q["shingles"].to_numpy()
    jac, lens_a, lens_b = verify_op._batch_jaccard(
        [shingles[i] for i in qi[idx]], [ch.shingle_set(r) for r in rows[idx]])
    out["jaccard"][idx] = jac
    out["hamming"][idx] = hamming[idx]
    out["min_n"][idx] = np.minimum(lens_a, lens_b)
    if kind == "txt":
        tr = pdf["transcript"].to_numpy(dtype=object) if "transcript" in pdf else None
        for i in idx[jac >= cfg.txt_jaccard_threshold]:
            out["substr"][i], out["lcs"][i] = verify_op._containment(
                None if tr is None else tr[qi[i]], library.transcripts[lib[i]],
                cfg.substr_min_frac)
    return out
