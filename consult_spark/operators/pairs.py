"""Candidate-pair generation from LSH buckets.

CONSULT probes each query k-mer against the bucket its signature addresses
(main_search.cpp:810-846).  In pair-generation mode the probe becomes a
bucket-local self-join: every pair of members of the same (kind, table_l,
band_hash) bucket is a candidate.  Because buckets are already capped at
cfg.bucket_cap (bands.py), the expansion is bounded by cap^2/2 per bucket —
the cap is what makes the self-join safe at 10^12 rows.

Implementation note: instead of a DataFrame self-join (two shuffles of the
bucket table), we groupBy the bucket key once, collect the (sorted, capped)
member array, and expand combinations with JVM-side higher-order functions
(transform/slice/flatten) — one shuffle, no Python, and the sort gives
`clip_a < clip_b` canonicalization for free.  Cross-band duplicate hits are
collapsed by the final groupBy, which is also where the c-threshold lives
(reads matched iff >= c k-mer hits, main_search.cpp:883-894, README.md:106).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import Config
from .bands import BUCKET_COLS

# members are struct<clip_id, simhash, n_shingles> sorted by clip_id (the
# struct's FIRST field, so sort_array's lexicographic struct order == the
# clip_id order the cap used); the expansion carries both sides'
# denormalized fingerprints into the candidates (verify does not read them)
_PAIR_EXPAND = (
    "flatten(transform(members, (x, i) -> "
    "transform(slice(members, i + 2, size(members)), y -> "
    "struct(x.clip_id AS clip_a, y.clip_id AS clip_b, "
    "x.simhash AS sim_a, y.simhash AS sim_b, "
    "x.n_shingles AS n_a, y.n_shingles AS n_b))))"
)


def _with_fingerprints(buckets: DataFrame) -> DataFrame:
    """Bucket tables written before the denormalized simhash/n_shingles
    columns existed read them as nulls; verify then falls back to its
    feature-table join for those pairs."""
    if "simhash" not in buckets.columns:
        buckets = buckets.withColumn("simhash", F.lit(None).cast("long"))
    if "n_shingles" not in buckets.columns:
        buckets = buckets.withColumn("n_shingles", F.lit(None).cast("int"))
    return buckets


def bucket_pairs(buckets: DataFrame) -> DataFrame:
    """capped buckets -> one row per
    (kind, clip_a, clip_b, sim_a, sim_b, n_a, n_b) per bucket hit.

    Tolerates bucket tables without the denormalized simhash/n_shingles
    columns (e.g. an index built by an earlier version and read back by the
    search job): see _with_fingerprints."""
    grouped = _with_fingerprints(buckets).groupBy(*BUCKET_COLS).agg(
        F.sort_array(
            F.collect_list(F.struct("clip_id", "simhash", "n_shingles"))
        ).alias("members")
    )
    return (
        grouped.filter(F.size("members") >= 2)
        .select("kind", F.explode(F.expr(_PAIR_EXPAND)).alias("p"))
        .select("kind", "p.*")
    )


def probe_candidates(query_bands: DataFrame, lib_buckets: DataFrame, cfg: Config) -> DataFrame:
    """Query-vs-library probe (CONSULT's actual search mode,
    main_search.cpp:810-846): join query band rows against the prebuilt
    bucket table -> candidate_pairs' columns with clip_a = the query and
    clip_b = the library clip, rolled up by the same _rollup.

    The library side is capped (bands.capped_buckets), so each query
    band row meets <= cap library rows.  Catalyst picks broadcast when the
    library fits (the distributed stand-in for CONSULT's RAM-resident shared
    index, main_search.cpp:523-658) and a shuffled join otherwise.  Both
    sides' band rows carry their clip's fingerprints, so the pairs carry
    them too (verify joins its own from the feature table).  A
    query whose id equals a library clip's id never pairs with that clip.
    """
    lib = _with_fingerprints(lib_buckets).select(
        *BUCKET_COLS,
        F.col("clip_id").alias("clip_b"),
        F.col("simhash").alias("sim_b"),
        F.col("n_shingles").alias("n_b"),
    )
    q = query_bands.select(
        *BUCKET_COLS,
        F.col("clip_id").alias("clip_a"),
        F.col("simhash").alias("sim_a"),
        F.col("n_shingles").alias("n_a"),
    )
    hits = (
        q.join(lib, BUCKET_COLS, "inner")
        .filter(F.col("clip_a") != F.col("clip_b"))
        .repartition("clip_a", "clip_b")
    )
    return _rollup(hits, cfg)


def candidate_pairs(buckets: DataFrame, cfg: Config) -> DataFrame:
    """-> (clip_a, clip_b, n_bands_pcm, n_bands_txt, sim_<prim>_{a,b},
    n_<prim>_{a,b}) where <prim> = cfg.channels[0], clip_a < clip_b,
    deduplicated across bands and channels, c-threshold applied per channel
    (a pair qualifies if SOME SINGLE channel reaches cfg.min_common_bands —
    the L-table OR of the reference, main_search.cpp:810-880; collisions are
    never summed across channels, so two extra channels at c-1 hits each do
    not fake a qualifying pair).

    The sim_*/n_* columns are the denormalized primary-channel SimHash
    fingerprints and shingle-set sizes of both members, pivoted out of the
    band hits (null when the pair never co-occurred in that channel's
    buckets).  verify does not read them: it joins every pair's
    fingerprints from the feature table (bands.py module docstring).

    One shuffle: hits are repartitioned by (clip_a, clip_b) once, and both
    aggregations — the per-kind count and the pair rollup — are satisfied by
    that distribution ((clip_a, clip_b) co-locates every (clip_a, clip_b,
    kind) group), so neither adds an exchange."""
    return _rollup(bucket_pairs(buckets).repartition("clip_a", "clip_b"), cfg)


def _rollup(hits: DataFrame, cfg: Config) -> DataFrame:
    """(kind, clip_a, clip_b, sim_a, sim_b, n_a, n_b) band hits,
    partitioned by (clip_a, clip_b) -> one row per qualifying pair (see
    candidate_pairs)."""
    per_kind = hits.groupBy("clip_a", "clip_b", "kind").agg(
        F.count("*").alias("nk"),
        # constant within the group (one clip has ONE fingerprint per kind)
        F.first("sim_a").alias("sim_a"),
        F.first("sim_b").alias("sim_b"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )

    def _pick(kind: str, col: str):
        # at most one row per kind in the group -> max over (value, nulls)
        return F.max(F.when(F.col("kind") == kind, F.col(col)))

    # pivot the fingerprints of the PRIMARY channel only: that is the
    # channel whose buckets generate the candidates, so its sims are
    # non-null on ~every pair; a secondary channel would be mostly null,
    # so carrying its columns through the pair shuffle + cache would be
    # dead weight (~340 MB at 480k clips).  verify joins every pair's
    # fingerprints from the feature table and reads none of these
    prim = cfg.channels[0] if cfg.channels else "pcm"
    agg = per_kind.groupBy("clip_a", "clip_b").agg(
        F.sum(F.when(F.col("kind") == "pcm", F.col("nk")).otherwise(0)).alias("n_bands_pcm"),
        F.sum(F.when(F.col("kind") == "txt", F.col("nk")).otherwise(0)).alias("n_bands_txt"),
        _pick(prim, "sim_a").alias(f"sim_{prim}_a"),
        _pick(prim, "sim_b").alias(f"sim_{prim}_b"),
        _pick(prim, "n_a").alias(f"n_{prim}_a"),
        _pick(prim, "n_b").alias(f"n_{prim}_b"),
        F.max("nk").alias("max_kind_bands"),
    )
    return agg.filter(F.col("max_kind_bands") >= cfg.min_common_bands).drop("max_kind_bands")
