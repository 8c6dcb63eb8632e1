"""Index ("map") build job — the Spark re-expression of `./main_map -i
kmers.fa -o DB` (main_map.cpp:540-1132): featurize the library clips, band,
apply the per-bucket capacity cap (bands.capped_buckets), and persist `lsh_buckets` + `features`
(fingerprints/shingles payload) + `config` + occupancy metrics.

    spark-submit --py-files dist/consult_spark.zip jobs/build_index.py \
        --clips <parquet> --warehouse <dir>
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from consult_spark.config import Config
from consult_spark.io import Warehouse
from consult_spark.metrics import StageRunner
from consult_spark.operators import bands as bands_op
from consult_spark.operators import shingle as shingle_op


def build_index(spark: SparkSession, clips: DataFrame, warehouse_dir: str,
                cfg: Config | None = None, run_id: str = "") -> Warehouse:
    cfg = cfg or Config()
    wh = Warehouse(spark, warehouse_dir, cfg, run_id=run_id)
    run = StageRunner(wh)
    wh.write_config()
    # partitioned by channel (readers prune on kind) and clustered by
    # clip_id within partitions (file-level locality for the probe-side
    # verify joins; at real scale this is bucketBy(N, "clip_id") —
    # docs/SCALE.md "Cluster deployment notes")
    features = run.stage(
        "features", lambda: shingle_op.featurize(clips, cfg).repartition("kind", "clip_id"),
        partition_by=("kind",), counters=shingle_op.decode_counters())
    if "transcript" in clips.columns:
        # verify payload for the suffix-array check in probe mode
        run.write("transcripts", lambda: clips.select("clip_id", "transcript"))
    bands = bands_op.explode_bands(features)
    run.write("lsh_buckets", lambda: bands_op.capped_buckets(bands, cfg))
    run.write("bucket_stats", lambda: bands_op.bucket_stats(bands, cfg))
    run.flush()
    return wh


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--clips", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    from consult_spark.session import get_spark

    spark = get_spark("consult_spark.build_index", master=args.master)
    build_index(spark, spark.read.parquet(args.clips), args.warehouse)
    spark.stop()


if __name__ == "__main__":
    main()
