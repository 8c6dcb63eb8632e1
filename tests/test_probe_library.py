"""The probe's library side (probing.prepare_library): built once, joined
per pair member, never unioned with the queries.

Covers what the query-vs-library split must keep right: an index whose
bucket table predates the denormalized fingerprints, a query whose id
collides with a library id, and the Spark jobs one epoch may submit on
each route."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from jobs.build_index import build_index
from jobs.search import search

# Spark jobs one replayed epoch of the corpus_xs queries may submit.  With
# adaptive execution every query stage (shuffle map, broadcast, cache
# build) is a job of its own.  Measured on local[4]: on the index route,
# 2 — the matched write, which runs the one probe pass into its cache, and
# the unmatched write off that cache.  On the SQL route, 30 with the
# library side built at stream start (50 when each epoch unioned the
# library into its features, sized the union with counts and ran
# isEmpty(), three counts and a metrics write)
EPOCH_JOB_BOUND = 2
SQL_EPOCH_JOB_BOUND = 32


@pytest.fixture(scope="module")
def library_split(spark, corpus_xs, cfg, tmp_path_factory):
    """Library = base clips + hot clique, indexed; queries = the rest."""
    lay = corpus_xs["layout"]
    clips = corpus_xs["clips"]
    lib_ids = set(lay[(lay.variant_idx == 0) | (lay.group_kind == "hot")]["clip_id"])
    wh_dir = str(tmp_path_factory.mktemp("lib_index"))
    build_index(spark, spark.createDataFrame(clips[clips.clip_id.isin(lib_ids)]), wh_dir, cfg=cfg)
    qry = clips[~clips.clip_id.isin(lib_ids)].reset_index(drop=True)
    return wh_dir, qry, lay


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_probe_index_without_bucket_fingerprints(spark, library_split, cfg, tmp_path):
    """A bucket table with no simhash/n_shingles columns (pairs.bucket_pairs
    tolerates one) must confirm exactly what the full index confirms: the
    library member's fingerprint is then null on every candidate, and
    verify must take it from the feature table instead of dropping the
    pair on a null Hamming distance."""
    import shutil

    wh_dir, qry, _ = library_split
    old_dir = str(tmp_path / "old_index")
    shutil.copytree(wh_dir, old_dir)
    buckets = os.path.join(old_dir, "lsh_buckets")
    stripped = spark.read.parquet(buckets).drop("simhash", "n_shingles")
    stripped.write.parquet(buckets + "_stripped")
    shutil.rmtree(buckets)
    os.rename(buckets + "_stripped", buckets)
    assert "simhash" not in spark.read.parquet(buckets).columns

    queries = spark.createDataFrame(qry)
    full = _rows(search(spark, queries, wh_dir, cfg=cfg)["confirmed"])
    old = _rows(search(spark, queries, old_dir, cfg=cfg)["confirmed"])
    assert old == full and len(full) > 0


def test_query_id_colliding_with_library_id(spark, library_split, cfg):
    """A query whose clip_id equals a library clip's id is scored with its
    OWN features: it keeps its real matches, and only the (id, id) pair is
    skipped.  The library clip keeps ITS features for every other query,
    so every other query's output is unchanged."""
    wh_dir, qry, _ = library_split
    ref = _rows(search(spark, spark.createDataFrame(qry), wh_dir, cfg=cfg)["confirmed"])
    # a query that matches only its base ...
    full = next(r for r in ref
                if sum(x[0] == r[0] for x in ref) == 1 and not r[0].startswith("hot"))
    base = full[1]
    # ... renamed to the id of another library clip that other queries match
    taken = next(r[1] for r in ref if r[1] != base and not r[1].startswith("hot"))
    renamed = qry.copy()
    renamed.loc[renamed.clip_id == full[0], "clip_id"] = taken
    got = _rows(search(spark, spark.createDataFrame(renamed), wh_dir, cfg=cfg)["confirmed"])

    assert (taken, base) + tuple(full[2:]) in got
    assert all(r[:2] != (taken, taken) for r in got)
    others = [r for r in ref if r[0] != full[0]]
    assert any(r[1] == taken for r in others)
    assert [r for r in got if r[0] != taken] == others


def _epoch_jobs(spark, library_split, out_dir: str) -> int:
    """Jobs of one replayed epoch of the library_split queries, checked to
    write consistent counts; initializing the sinks must submit none (they
    are written from the driver).  Jobs are counted by job group, so only
    this thread's work is seen."""
    from consult_spark.io import open_warehouse
    from consult_spark.probing import prepare_library
    from consult_spark.streaming.probe import init_probe_sinks, make_probe_batch_writer

    wh_dir, qry, _ = library_split
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    wh = open_warehouse(spark, wh_dir)
    library = prepare_library(spark, *(wh.read(t) for t in ("lsh_buckets", "features",
                                                            "transcripts")), persist=True)
    per_batch = make_probe_batch_writer(spark, library, wh.cfg, out_dir)
    batch = spark.createDataFrame(qry)

    def jobs_in(group: str, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(tracker.getJobIdsForGroup(group))

    try:
        assert jobs_in(f"probe-sinks-{out_dir}", lambda: init_probe_sinks(spark, out_dir)) == 0
        # the sentinels read back with the schema a Spark write gives them
        m = spark.read.parquet(os.path.join(out_dir, "probe_metrics"))
        assert m.count() == 0 and dict(m.dtypes) == {
            "n_queries": "bigint", "n_matched_pairs": "bigint", "n_matched_clips": "bigint",
            "n_unmatched": "bigint", "wall_sec": "double", "batch_id": "int"}
        n_jobs = jobs_in(f"probe-epoch-{out_dir}", lambda: per_batch(batch, 0))
        m = spark.read.parquet(os.path.join(out_dir, "probe_metrics"))
        row = m.filter(F.col("batch_id") == 0).head()
        n_pairs = spark.read.parquet(os.path.join(out_dir, "matched_clips")).count()
        n_unmatched = spark.read.parquet(os.path.join(out_dir, "unmatched_clips")).count()
        assert (row["n_queries"], row["n_matched_pairs"], row["n_unmatched"]) == (
            len(qry), n_pairs, n_unmatched)
        assert row["n_matched_clips"] == len(qry) - n_unmatched
        assert n_pairs > 0
        return n_jobs
    finally:
        library.release()


def test_probe_epoch_job_count(spark, library_split, tmp_path):
    """One replayed epoch on the index route (the default for a library
    this size) submits EPOCH_JOB_BOUND Spark jobs at most."""
    n_jobs = _epoch_jobs(spark, library_split, str(tmp_path / "out"))
    assert 0 < n_jobs <= EPOCH_JOB_BOUND, n_jobs


def test_probe_epoch_job_count_sql_route(spark, library_split, tmp_path, monkeypatch):
    """The same epoch with the route bound below the library (the SQL
    route) stays under SQL_EPOCH_JOB_BOUND."""
    from consult_spark.operators import verify

    monkeypatch.setattr(verify, "MAX_PROBE_INDEX_ROWS", -1)
    n_jobs = _epoch_jobs(spark, library_split, str(tmp_path / "out"))
    assert 0 < n_jobs <= SQL_EPOCH_JOB_BOUND, n_jobs
