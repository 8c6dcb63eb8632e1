"""metrics.StageRunner: stage bookkeeping (row counts, lineage, the metrics
flush) reads parquet footers and writes from the driver, so in parquet mode
it submits no Spark job of its own."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from consult_spark.config import Config
from consult_spark.io import Warehouse
from consult_spark.metrics import StageRunner


def _jobs_in(spark, fn):
    """-> (jobs fn submitted, fn's result), counted by job group."""
    sc = spark.sparkContext
    group = f"stage-runner-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_write_submits_only_the_write_jobs(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("kind")).repartition(4)
    bare, _ = _jobs_in(spark, lambda: df.write.parquet(str(tmp_path / "bare")))
    wh = Warehouse(spark, str(tmp_path / "wh"), Config())
    assert not wh.use_iceberg
    n_jobs, n = _jobs_in(spark, lambda: wh.write(df, "t"))
    assert (n_jobs, n) == (bare, 1000)
    assert wh.manifest("t")["rows"] == 1000
    # an append's count is the whole table's
    _, n = _jobs_in(spark, lambda: wh.write(df.limit(10), "t", mode="append"))
    assert n == 1010
    # a partitioned table: one footer per file under the partition dirs
    n_jobs, n = _jobs_in(spark, lambda: wh.write(df, "p", partition_by=("kind",)))
    assert n == 1000
    files = [f for d, _, fs in os.walk(wh._path("p")) for f in fs
             if f.startswith("part-") and f.endswith(".parquet")]
    assert len(wh.file_rows("p")) == len(files)


def test_record_step_and_flush_submit_no_job(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), Config())
    run = StageRunner(wh)
    df = spark.range(500).repartition(3)
    out = run.stage("s", lambda: df)
    assert out.count() == 500
    n_jobs, _ = _jobs_in(spark, lambda: run.record_stage("s", {"rows": 500}))
    assert n_jobs == 0
    run.add("s", "dropped", 7)
    n_jobs, _ = _jobs_in(spark, run.flush)
    assert n_jobs == 0

    lineage = spark.read.parquet(wh._path("lineage"))
    assert dict(lineage.dtypes) == {"run_id": "string", "stage": "string",
                                    "partition_id": "int", "rows": "bigint", "ts": "double"}
    rows = sorted((r["partition_id"], r["rows"]) for r in lineage.collect())
    # stage() and the extra record_stage each logged every file once
    assert sum(n for _, n in rows) == 2 * 500
    assert [p for p, _ in rows] == sorted(2 * list(range(len(wh.file_rows("s")))))
    metrics = {(r["stage"], r["key"]): r["value"]
               for r in spark.read.parquet(wh._path("metrics")).collect()}
    assert metrics[("s", "rows")] == 500 and metrics[("s", "dropped")] == 7
    assert ("s", "wall_sec") in metrics

