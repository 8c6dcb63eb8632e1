"""End-to-end dedup pipeline: clips -> features -> buckets -> candidate
pairs -> verified pairs -> clusters + unique clips, with metrics, lineage
and stage-level resumability.

The Spark re-expression of CONSULT's two executables fused into one lineage
(build: main_map.cpp:540-1132; search: main_search.cpp:684-1061) plus the
graft's pair-generation + clustering extensions.

Run standalone:
    spark-submit --py-files dist/consult_spark.zip jobs/pipeline.py \
        --clips <parquet path> --warehouse <dir> [--resume]

Stage order (each materialized to the warehouse with a manifest):
    config -> features -> buckets -> bucket_stats -> candidates
    -> confirmed_pairs -> clusters -> unique_clips -> metrics/lineage

``--resume`` skips any stage whose manifest exists with a matching
params_hash — kill the job after any stage and re-run to continue.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from consult_spark.config import Config
from consult_spark.io import Warehouse
from consult_spark.metrics import StageRunner
from consult_spark.operators import bands as bands_op
from consult_spark.operators import cluster as cluster_op
from consult_spark.operators import pairs as pairs_op
from consult_spark.operators import shingle as shingle_op
from consult_spark.operators import verify as verify_op


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    warehouse_dir: str,
    cfg: Config | None = None,
    resume: bool = False,
    run_id: str = "",
) -> dict:
    cfg = cfg or Config()
    wh = Warehouse(spark, warehouse_dir, cfg, run_id=run_id)
    run = StageRunner(wh, resume)
    wh.write_config()

    # features partitioned by channel: every downstream reader filters on
    # kind, so the scan prunes whole partitions (plan-asserted).  Decode
    # failures are per-clip soft errors (empty shingle set); their count,
    # observed by the write, is a metric — the per-file (lines, matched)
    # accounting analog
    features = run.stage("features", lambda: shingle_op.featurize(clips, cfg),
                         partition_by=("kind",), counters=shingle_op.decode_counters())
    if "transcript" in clips.columns:
        # verify payload for delta folds (consult_spark/incremental.py):
        # an increment needs the OLD clips' transcripts for the
        # suffix-array channel, so the warehouse keeps them (same table
        # build_index writes for the probe jobs)
        run.stage("transcripts", lambda: clips.select("clip_id", "transcript"))
    buckets = run.stage(
        "buckets",
        lambda: bands_op.capped_buckets(bands_op.explode_bands(features), cfg),
    )
    run.stage("bucket_stats",
              lambda: bands_op.bucket_stats(bands_op.explode_bands(features), cfg))
    candidates = run.stage("candidates", lambda: pairs_op.candidate_pairs(buckets, cfg))
    confirmed = run.stage(
        "confirmed_pairs",
        lambda: verify_op.confirm_pairs(candidates, features, clips, cfg),
    )
    clusters = run.stage("clusters",
                         lambda: cluster_op.assign_clusters(clips, confirmed, cfg))
    uniques = run.stage("unique_clips", lambda: cluster_op.unique_clips(clips, confirmed))

    run.flush()
    return {
        "run_id": wh.run_id,
        "timings": run.timings,
        "tables": {
            "features": features,
            "buckets": buckets,
            "candidates": candidates,
            "confirmed_pairs": confirmed,
            "clusters": clusters,
            "unique_clips": uniques,
        },
        "warehouse": wh,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--clips", help="parquet path of the clips table")
    src.add_argument(
        "--clips-dir",
        help="directory of raw audio files (wav/flac/mp3/ogg/m4a); metadata "
        "is filled by header-only probes (sources/clips.py)",
    )
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from consult_spark.session import get_spark

    spark = get_spark("consult_spark.pipeline", master=args.master)
    if args.clips_dir:
        from consult_spark.sources.clips import read_audio_directory

        clips = read_audio_directory(spark, args.clips_dir)
    else:
        clips = spark.read.parquet(args.clips)
    res = run_pipeline(spark, clips, args.warehouse, resume=args.resume)
    print({"run_id": res["run_id"], "timings": {k: round(v, 2) for k, v in res["timings"].items()}})
    spark.stop()


if __name__ == "__main__":
    main()
