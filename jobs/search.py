"""Search job — the Spark re-expression of `./main_search -i DB -c 1 -q DIR`
(main_search.cpp:684-1061): probe query clips against a prebuilt index
(jobs/build_index.py), verify candidates exactly, classify each query clip
matched/unmatched by the c-threshold, and write:

  matched_clips(query_id, lib_id, scores...)  — verified hits
  unmatched_clips(clip_id ...)                — the ucseq_ analog
                                                 (main_search.cpp:1021-1041)
  per-run metrics                             — (file, lines, matched) analog

    spark-submit --py-files dist/consult_spark.zip jobs/search.py \
        --queries <parquet> --warehouse <index dir> --out <dir>
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from consult_spark.config import Config
from consult_spark.io import open_warehouse
from consult_spark.metrics import StageRunner
from consult_spark.probing import prepare_library, probe_batch


def search(spark: SparkSession, queries: DataFrame, warehouse_dir: str,
           cfg: Config | None = None) -> dict:
    wh = open_warehouse(spark, warehouse_dir, cfg)
    cfg = wh.cfg
    run = StageRunner(wh)

    library = prepare_library(
        spark,
        wh.read("lsh_buckets"),
        wh.read("features"),
        wh.read("transcripts") if wh.exists("transcripts") else None,
    )
    # the probe core shared with the continuous probe (streaming/probe.py),
    # on the route prepare_library chose.  The frames the probe persists are
    # returned as "cached", and the library as "library": unpersist the
    # former and release the latter once the returned plans are written.
    n_queries = queries.count()
    probed = probe_batch(spark, queries, library, cfg, n_queries=n_queries)

    matched = probed.matched.select(F.col("clip_a").alias("clip_id")).distinct()
    run.add("search", "n_queries", n_queries)
    n_matched = matched.count()
    run.add("search", "n_matched", n_matched)
    run.flush()
    return {
        "confirmed": probed.matched,
        "matched": matched,
        "unmatched": probed.unmatched,
        "n_matched": n_matched,
        "cached": probed.cached,
        "library": library,
        "warehouse": wh,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    from consult_spark.session import get_spark

    spark = get_spark("consult_spark.search", master=args.master)
    res = search(spark, spark.read.parquet(args.queries), args.warehouse)
    res["confirmed"].write.mode("overwrite").parquet(f"{args.out}/matched_clips")
    res["unmatched"].write.mode("overwrite").parquet(f"{args.out}/unmatched_clips")
    for df in res["cached"]:
        df.unpersist()
    res["library"].release()
    print({"n_matched": res["n_matched"]})
    spark.stop()


if __name__ == "__main__":
    main()
