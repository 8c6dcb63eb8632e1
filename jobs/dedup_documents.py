"""Document-corpus dedup job — the text-channel twin of jobs/pipeline.py,
runnable on a JSONL/CSV/parquet corpus straight from the command line:

    spark-submit --py-files dist/consult_spark.zip jobs/dedup_documents.py \
        --documents <path> [--format jsonl|csv|parquet] --warehouse <dir>

Stages (each materialized with a manifest, resumable like the audio job):
exact dup groups -> quality/language reports -> MinHash-LSH near-dup
confirmed pairs -> clusters -> unique docs.  All stages are the same
operators the driver gate verifies against DuckDB oracles.
A stage that builds on an earlier one consumes the table that stage wrote,
read back from the warehouse: corpus_stats reads lang_id, and doc_clusters
and unique_docs read confirmed_pairs, so the shingle -> MinHash -> band ->
pair -> exact-Jaccard chain runs once per run (and a resumed run reuses it).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from consult_spark.config import Config
from consult_spark.io import Warehouse
from consult_spark.metrics import StageRunner
from consult_spark.operators import text as text_op
from consult_spark.operators import textdedup as td


def run_doc_pipeline(spark: SparkSession, docs: DataFrame, warehouse_dir: str,
                     cfg: Config | None = None, resume: bool = False) -> dict:
    cfg = cfg or Config(channels=("txt",))
    wh = Warehouse(spark, warehouse_dir, cfg)
    run = StageRunner(wh, resume)
    wh.write_config()
    run.stage("exact_dup_groups", lambda: td.exact_dup_groups(docs))
    run.stage("quality_scores", lambda: text_op.quality_scores(docs))
    langs = run.stage("lang_id", lambda: text_op.lang_id(spark, docs))
    run.stage("corpus_stats", lambda: text_op.corpus_stats(spark, docs, langs))
    confirmed = run.stage("confirmed_pairs", lambda: td.confirmed_pairs(docs))
    clusters = run.stage("doc_clusters", lambda: td.doc_clusters(docs, confirmed))
    uniques = run.stage("unique_docs", lambda: td.unique_docs(docs, confirmed))
    run.add("doc_pipeline", "n_docs", docs.count())
    run.flush()
    return {
        "run_id": wh.run_id,
        "timings": run.timings,
        "tables": {"confirmed_pairs": confirmed, "doc_clusters": clusters, "unique_docs": uniques},
        "warehouse": wh,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--format", default="parquet", choices=("parquet", "jsonl", "csv"))
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    from consult_spark.session import get_spark
    from consult_spark.sources import documents as src

    spark = get_spark("consult_spark.dedup_documents", master=args.master)
    reader = {
        "parquet": src.read_documents_parquet,
        "jsonl": src.read_documents_jsonl,
        "csv": src.read_documents_csv,
    }[args.format]
    res = run_doc_pipeline(spark, reader(spark, args.documents), args.warehouse,
                           resume=args.resume)
    print({"run_id": res["run_id"], "timings": {k: round(v, 2) for k, v in res["timings"].items()}})
    spark.stop()


if __name__ == "__main__":
    main()
