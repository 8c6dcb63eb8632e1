"""End-to-end pipeline vs oracle + planted truth, and resumability.

The distributed-engine analog of CONSULT's golden quick test (README.md:85-99):
run the whole pipeline on the xs corpus, compare against the independent
oracle (pair recall, cluster assignment equality, unique set) and against the
planted ground truth (recall >= 0.99 on truth pairs through transitive
clustering).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from jobs.pipeline import run_pipeline


@pytest.fixture(scope="module")
def pipeline_result(spark, clips_xs, cfg, tmp_path_factory):
    wh_dir = str(tmp_path_factory.mktemp("warehouse"))
    return run_pipeline(spark, clips_xs, wh_dir, cfg=cfg), wh_dir


def test_confirmed_pairs_equal_oracle(pipeline_result, oracle_xs):
    res, _ = pipeline_result
    got = {
        (r["clip_a"], r["clip_b"]) for r in res["tables"]["confirmed_pairs"].collect()
    }
    exp = set(oracle_xs.confirmed)
    missing = exp - got
    extra = got - exp
    recall = 1 - len(missing) / max(1, len(exp))
    assert recall >= 0.99, f"missing {sorted(missing)[:5]}"
    assert not extra, f"extra pairs {sorted(extra)[:5]}"


def test_cluster_assignment_equals_oracle(pipeline_result, oracle_xs):
    res, _ = pipeline_result
    got = {r["clip_id"]: r["cluster_id"] for r in res["tables"]["clusters"].collect()}
    # both sides label components by their min clip_id -> directly comparable
    assert got == oracle_xs.clusters


def test_unique_set_equals_oracle(pipeline_result, oracle_xs):
    res, _ = pipeline_result
    got = {r["clip_id"] for r in res["tables"]["unique_clips"].collect()}
    assert got == oracle_xs.unique


def test_truth_pair_recall(pipeline_result, corpus_xs):
    """Planted-truth recall through TRANSITIVE clustering: two planted dups
    count as found if they land in the same final cluster."""
    res, _ = pipeline_result
    clusters = {r["clip_id"]: r["cluster_id"] for r in res["tables"]["clusters"].collect()}
    truth = corpus_xs["truth_pairs"]
    hit = sum(1 for t in truth.itertuples(index=False) if clusters[t.clip_a] == clusters[t.clip_b])
    recall = hit / len(truth)
    assert recall >= 0.99, f"truth recall {recall:.4f}"


def test_no_false_merges_of_unique_clips(pipeline_result, corpus_xs):
    """Precision guard: planted-unique clips must stay singletons."""
    res, _ = pipeline_result
    clusters = {r["clip_id"]: r["cluster_id"] for r in res["tables"]["clusters"].collect()}
    sizes: dict = {}
    for cid, label in clusters.items():
        sizes.setdefault(label, []).append(cid)
    bad = [
        cid
        for cid in corpus_xs["truth_unique"]["clip_id"]
        if len(sizes[clusters[cid]]) > 1
    ]
    assert len(bad) / max(1, len(corpus_xs["truth_unique"])) <= 0.01, bad[:5]


def test_metrics_and_lineage_written(pipeline_result, spark):
    res, wh_dir = pipeline_result
    metrics = spark.read.parquet(os.path.join(wh_dir, "metrics"))
    lineage = spark.read.parquet(os.path.join(wh_dir, "lineage"))
    stages = {r["stage"] for r in metrics.select("stage").distinct().collect()}
    assert {"features", "buckets", "candidates", "confirmed_pairs", "clusters"} <= stages
    assert lineage.count() > 0
    assert lineage.filter(F.col("rows") < 0).count() == 0


def _lineage_sums(spark, wh_dir: str, run_id: str) -> dict[str, int]:
    lineage = spark.read.parquet(os.path.join(wh_dir, "lineage"))
    return {r["stage"]: r["n"] for r in lineage.filter(F.col("run_id") == run_id)
            .groupBy("stage").agg(F.sum("rows").alias("n")).collect()}


def test_lineage_sums_to_manifest_rows(pipeline_result, spark):
    """Lineage holds one row per written data file; for every stage those
    rows sum to the manifest's row count, and so does the rows metric."""
    res, wh_dir = pipeline_result
    wh = res["warehouse"]
    sums = _lineage_sums(spark, wh_dir, res["run_id"])
    assert set(sums) == {"features", "transcripts", "buckets", "bucket_stats", "candidates",
                         "confirmed_pairs", "clusters", "unique_clips"}
    metrics = spark.read.parquet(os.path.join(wh_dir, "metrics")).filter(
        (F.col("run_id") == res["run_id"]) & (F.col("key") == "rows"))
    rows_metric = {r["stage"]: r["value"] for r in metrics.collect()}
    for stage, n in sums.items():
        assert n == wh.manifest(stage)["rows"] == rows_metric[stage], stage
    files = glob.glob(os.path.join(wh_dir, "features", "kind=*", "part-*.parquet"))
    features = spark.read.parquet(os.path.join(wh_dir, "lineage")).filter(
        (F.col("run_id") == res["run_id"]) & (F.col("stage") == "features"))
    assert sorted(r["partition_id"] for r in features.collect()) == list(range(len(files)))


def test_resume_skips_stages_and_reproduces(pipeline_result, spark, clips_xs, cfg):
    """Kill-and-resume contract: a second run with --resume over the same
    warehouse skips every stage (manifests match) and yields identical
    clusters."""
    res, wh_dir = pipeline_result
    first = {r["clip_id"]: r["cluster_id"] for r in res["tables"]["clusters"].collect()}
    res2 = run_pipeline(spark, clips_xs, wh_dir, cfg=cfg, resume=True)
    second = {r["clip_id"]: r["cluster_id"] for r in res2["tables"]["clusters"].collect()}
    assert first == second
    assert all(v == 0.0 for v in res2["timings"].values()), res2["timings"]
    # skipped stages still record their lineage (from footers, no job)
    assert _lineage_sums(spark, wh_dir, res2["run_id"]) == _lineage_sums(
        spark, wh_dir, res["run_id"])


def test_resume_rejects_config_mismatch(pipeline_result, spark, clips_xs):
    from consult_spark.config import Config
    from consult_spark.io import Warehouse

    _, wh_dir = pipeline_result
    other = Config(bucket_cap=7)
    wh = Warehouse(spark, wh_dir, other)
    assert not wh.exists("features")  # params_hash mismatch -> no skip
    with pytest.raises(ValueError):
        wh.read_config()
