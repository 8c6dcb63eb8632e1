"""End-to-end MEDIA dedup: images and/or videos -> features -> buckets ->
candidate pairs -> exact-verified pairs -> clusters + uniques, with metrics
and stage-level resumability — the multimodal twin of jobs/pipeline.py
(CONSULT's build+search lineage, main_map.cpp:540-1132 /
main_search.cpp:684-1061, applied to image/video payloads).

Decode is REAL for the formats that need no codec library (binary PPM,
24-bit BMP, YUV4MPEG2 video); compressed formats decode once a decoder is
plugged into operators/multimodal.py — failures stay per-item soft errors
either way, surfaced as a decode_failed metric.

Run standalone (either or both inputs):
    spark-submit --py-files dist/consult_spark.zip jobs/dedup_media.py \
        --images <parquet: img_id, bytes, width, height, format> \
        --videos <parquet: vid_id, bytes, fps, dur_ms, codec> \
        --warehouse <dir> [--resume]

Stage order (each materialized with a manifest, --resume skips up-to-date
stages): config -> media_features -> media_buckets -> media_candidates ->
media_confirmed -> media_clusters -> media_unique.
"""

from __future__ import annotations

import argparse
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from consult_spark.config import Config
from consult_spark.io import Warehouse
from consult_spark.metrics import StageRunner
from consult_spark.operators import bands as bands_op
from consult_spark.operators import cluster as cluster_op
from consult_spark.operators import multimodal as mm
from consult_spark.operators import pairs as pairs_op
from consult_spark.operators import shingle as shingle_op
from consult_spark.operators import verify as verify_op


def media_confirmed_pairs(candidates: DataFrame, features: DataFrame, kinds: list[str],
                          cfg: Config) -> DataFrame:
    """Exact verification for the media channels ``kinds`` (the kinds the
    job featurized, in input order: img before vid): per kind, the standard
    score ladder (simhash prefilter -> containment bound -> exact Jaccard,
    verify.channel_scores); a pair is a dup if ANY channel clears the
    threshold.  Media uses the set-similarity threshold
    (cfg.txt_jaccard_threshold) — block/frame shingles behave like text
    shingle sets, not like the low-info-masked pcm channel."""
    scored = reduce(
        lambda left, right: left.join(right, ["clip_a", "clip_b"], "outer"),
        [
            verify_op.channel_scores(candidates, features, kind, cfg).select(
                "clip_a", "clip_b",
                F.col("jaccard").alias(f"{kind}_jaccard"),
                F.col("hamming").alias(f"{kind}_hamming"),
            )
            for kind in kinds
        ],
    )
    jac_cols = [F.coalesce(F.col(f"{k}_jaccard"), F.lit(0.0)) for k in kinds]
    out = (
        candidates.join(scored, ["clip_a", "clip_b"], "left")
        .withColumn("best_jaccard", F.greatest(*jac_cols) if len(jac_cols) > 1 else jac_cols[0])
        .withColumn("is_dup", F.col("best_jaccard") >= F.lit(cfg.txt_jaccard_threshold))
    )
    return out.filter(F.col("is_dup"))


def run_media_pipeline(
    spark: SparkSession,
    images: DataFrame | None,
    videos: DataFrame | None,
    warehouse_dir: str,
    cfg: Config | None = None,
    resume: bool = False,
    run_id: str = "",
) -> dict:
    if images is None and videos is None:
        raise ValueError("at least one of images/videos is required")
    cfg = cfg or Config()
    wh = Warehouse(spark, warehouse_dir, cfg, run_id=run_id)
    run = StageRunner(wh, resume)
    wh.write_config()

    # the channels media_confirmed_pairs scores: the ones the inputs feed
    kinds = [kind for kind, df in (("img", images), ("vid", videos)) if df is not None]

    def build_features() -> DataFrame:
        parts = []
        if images is not None:
            parts.append(mm.featurize_images(images, cfg))
        if videos is not None:
            parts.append(mm.featurize_videos(videos, cfg))
        return reduce(DataFrame.unionByName, parts)

    features = run.stage("media_features", build_features, partition_by=("kind",),
                         counters=shingle_op.decode_counters())
    ids = features.select("clip_id").distinct()

    buckets = run.stage(
        "media_buckets",
        lambda: bands_op.capped_buckets(bands_op.explode_bands(features), cfg),
    )
    candidates = run.stage("media_candidates", lambda: pairs_op.candidate_pairs(buckets, cfg))
    confirmed = run.stage(
        "media_confirmed", lambda: media_confirmed_pairs(candidates, features, kinds, cfg)
    )
    clusters = run.stage("media_clusters",
                         lambda: cluster_op.assign_clusters(ids, confirmed, cfg))
    uniques = run.stage("media_unique", lambda: cluster_op.unique_clips(ids, confirmed))

    run.flush()
    return {
        "run_id": wh.run_id,
        "timings": run.timings,
        "tables": {
            "media_features": features,
            "media_buckets": buckets,
            "media_candidates": candidates,
            "media_confirmed": confirmed,
            "media_clusters": clusters,
            "media_unique": uniques,
        },
        "warehouse": wh,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", default=None, help="parquet path (IMAGES_SCHEMA)")
    ap.add_argument("--videos", default=None, help="parquet path (VIDEOS_SCHEMA)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from consult_spark.session import get_spark

    spark = get_spark("consult_spark.dedup_media", master=args.master)
    images = spark.read.parquet(args.images) if args.images else None
    videos = spark.read.parquet(args.videos) if args.videos else None
    res = run_media_pipeline(spark, images, videos, args.warehouse, resume=args.resume)
    print({"run_id": res["run_id"],
           "timings": {k: round(v, 2) for k, v in res["timings"].items()}})
    spark.stop()


if __name__ == "__main__":
    main()
