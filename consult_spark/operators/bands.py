"""Band explode + capacity-capped LSH buckets.

The analog of CONSULT's capped grouped insert (28 slots per bucket row,
overflow dropped and counted — main_map.cpp:62, 592-623, 903-905).  The cap
is load-bearing twice over:

* semantics — matching the reference's recall behavior means a hot bucket
  contributes at most `cap` members, deterministically (we order by clip_id,
  where the reference keeps first-come order and documents the resulting
  irreproducibility, README.md:201-207);
* scale — at 10^12 clips a Zipfian band hash would otherwise put one bucket
  on one task.  The map-side bound that keeps any single task from seeing a
  whole hot bucket comes from Spark's rank-limit pushdown: the
  ``row_number() <= cap`` filter compiles to WindowGroupLimit in Partial
  mode BELOW the exchange (plan-asserted in tests/test_plans.py), so every
  map partition forwards at most ``cap`` rows per bucket — a hot bucket of
  M rows shrinks to <= n_map_partitions * cap before the shuffle.  (Rounds
  1-4 hand-rolled the same bound as a salted pre-window; that paid a second
  full exchange + sort of the band table for a guarantee the engine already
  provides.  The planted-hot-clique skew bench, BENCH/SKEW.md, measures
  this path.)

Band rows DENORMALIZE the per-(clip, kind) SimHash fingerprint and shingle
count (12 bytes/row): candidate pairs then carry both sides' fingerprints
out of the bucket expansion (the SURVEY §2 S8 recommendation).  verify
does not read them: its one pass left-joins every pair's fingerprints from
the feature table (verify._scored), which skipping the join for the
carried pairs alone would split into two passes over the candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import Config

BUCKET_COLS = ["kind", "table_l", "band_hash"]


def explode_bands(features: DataFrame) -> DataFrame:
    """features -> one row per (clip_id, kind, table_l, band_hash).

    posexplode is JVM-side; no Python is involved in the fan-out.
    Empty shingle sets are excluded — an all-sentinel MinHash would
    otherwise make every empty clip collide with every other empty clip.
    """
    return features.filter(F.col("n_shingles") > 0).select(
        "clip_id",
        "kind",
        "simhash",
        "n_shingles",
        F.posexplode("bands").alias("table_l", "band_hash"),
    )


def capped_buckets(bands: DataFrame, cfg: Config) -> DataFrame:
    """bands -> bucket membership with the per-bucket cap enforced.

    Returns (clip_id, kind, simhash, n_shingles, table_l, band_hash) with at
    most cfg.bucket_cap rows per bucket. Deterministic: ties broken by
    clip_id ordering (cap-smallest clip_ids survive — same rule at any
    parallelism).

    ONE exchange: the row_number filter compiles to WindowGroupLimit
    (Partial below the shuffle, Final above — see module docstring), so the
    hot-bucket bound costs no extra pass."""
    w = Window.partitionBy(*BUCKET_COLS).orderBy("clip_id")
    return (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cfg.bucket_cap)
        .drop("rn")
    )


def bucket_stats(bands: DataFrame, cfg: Config) -> DataFrame:
    """Occupancy histogram + drop accounting (the analog of CONSULT's per-l
    kept-k-mer counters and row-occupancy histogram, main_map.cpp:903-905,
    1170-1197). Returns (kind, table_l, bucket_size, n_buckets, n_dropped)."""
    sizes = bands.groupBy(*BUCKET_COLS).agg(F.count("*").alias("bucket_size"))
    return (
        sizes.groupBy("kind", "table_l", "bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .withColumn(
            "n_dropped",
            F.when(
                F.col("bucket_size") > cfg.bucket_cap,
                (F.col("bucket_size") - cfg.bucket_cap) * F.col("n_buckets"),
            ).otherwise(F.lit(0)),
        )
    )
