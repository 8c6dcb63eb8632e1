"""Incremental batch dedup: fold a delta of new clips (a day's crawl)
into an existing pipeline warehouse at O(delta) compute instead of
re-running the pipeline over the whole history.

CONSULT's index is build-once (main_map.cpp:540-1132 writes a frozen
directory that main_search only reads); growing the library means
rebuilding.  At the 10^12-clip tier a daily increment cannot pay an
O(history) rebuild, so this module re-expresses the build as a monoid
fold, exploiting one algebraic fact about the capacity cap:

    cap keeps the cap-smallest clip_ids per bucket, so
    cap(cap(C) ∪ D) = cap(C ∪ D)

— members the old cap dropped were LARGER than every survivor, so adding
new members can only evict survivors, never resurrect dropped ones.  The
stored capped buckets are therefore a sufficient statistic for the full
band table, and only buckets the delta actually touches need re-capping.

Exactness contract (pinned in tests/test_incremental.py):

* every candidate pair touching a delta clip gets EXACTLY the band
  counts and membership a full rebuild over (old ∪ delta) would produce
  (all buckets containing a delta clip are touched by construction);
* previously confirmed old-old pairs are kept as-is.  A full rebuild
  could drop an old-old candidate whose only bucket route was evicted by
  a smaller-id delta clip — the fold never un-confirms a verified dup,
  so its confirmed set is a superset of the rebuild's (recall-monotone;
  the pair is still a true near-dup, it just lost its LSH route).

Scale shape: the delta drives every join — touched bucket keys, delta
candidate ids and pair ids are all O(delta) and broadcast, so the
history-sized tables (buckets, features, clusters, unique_clips) are
scanned once each and never shuffled.  The one O(history) cost is the
bucket-table rewrite IO in plain-parquet mode (copy-on-write of the
untouched rows); on an Iceberg deployment that write is a row-level
MERGE into the touched partitions instead.

Crash semantics (stated plainly): a fold is NOT atomic across tables in
parquet mode — re-running a fold that crashed mid-way duplicates the
already-appended features/transcripts/confirmed rows, so recover by
restoring the warehouse (it is a directory; snapshot it before the fold)
or rebuilding.  On Iceberg every table update is its own snapshot
commit, and recovery is rolling the partially-updated tables back to the
pre-fold snapshot — the resume story the north rule names.  The
CLUSTER-only streaming variant (streaming/probe.update_probe_clusters)
IS replay-idempotent because folded pairs contract away; the table
appends here are what break naive re-runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import Config
from .io import Warehouse
from .metrics import StageRunner
from .operators import bands as bands_op
from .operators import cluster as cluster_op
from .operators import pairs as pairs_op
from .operators import shingle as shingle_op
from .operators import verify as verify_op
from .operators.bands import BUCKET_COLS


def _pairs_touching(cands: DataFrame, ids: DataFrame) -> DataFrame:
    """Candidate rows where either endpoint is a delta clip.  ``ids`` is
    O(delta) -> broadcast semi-joins; the duplicate a-and-b hits collapse
    on the pair key (rows for one pair are identical)."""
    a_hit = cands.join(
        F.broadcast(ids.withColumnRenamed("clip_id", "clip_a")), "clip_a", "left_semi"
    )
    b_hit = cands.join(
        F.broadcast(ids.withColumnRenamed("clip_id", "clip_b")), "clip_b", "left_semi"
    )
    return a_hit.unionByName(b_hit.select(*a_hit.columns)).dropDuplicates(
        ["clip_a", "clip_b"]
    )


def _recap_touched(old_buckets: DataFrame, delta_features: DataFrame,
                   cfg: Config) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Re-cap ONLY the bucket keys the delta touches -> (touched keys,
    re-capped touched rows, rewritten bucket table).  The delta side is
    capped first (composition-stable, module docstring), the touched old
    rows are pulled with a broadcast semi-join (scan, no shuffle of the
    history table), and the union is re-capped — a window over
    O(delta * cap) rows.  The rewrite passes untouched rows through
    (broadcast anti = scan) and takes the re-capped membership for touched
    keys: copy-on-write of the history in parquet mode, a row-level MERGE
    on Iceberg.  ``touched`` is returned persisted; the caller unpersists
    it."""
    delta_capped = bands_op.capped_buckets(bands_op.explode_bands(delta_features), cfg)
    touched = delta_capped.select(*BUCKET_COLS).distinct().persist()
    merged_touched = bands_op.capped_buckets(
        old_buckets.join(F.broadcast(touched), BUCKET_COLS, "left_semi")
        .unionByName(delta_capped),
        cfg,
    )
    new_buckets = old_buckets.join(
        F.broadcast(touched), BUCKET_COLS, "left_anti"
    ).unionByName(merged_touched)
    return touched, merged_touched, new_buckets


def grow_index(
    spark: SparkSession,
    delta_clips: DataFrame,
    warehouse_dir: str,
    cfg: Config | None = None,
    run_id: str = "",
) -> dict:
    """Grow a SEARCH index (jobs/build_index.py warehouse: features +
    lsh_buckets + transcripts) by new clips at O(delta) — the enrollment
    half of the fold, without the pair/cluster machinery.  CONSULT's map
    is frozen at build time (main_map.cpp:859-946); this is what lets a
    probe deployment absorb its own unmatched traffic into the library
    (jobs/probe_stream.py --enroll-unmatched).

    Idempotent per clip_id: ids already present in the index are dropped
    from the delta first (a replayed enrollment is a no-op), so the
    caller may re-run after a crash without duplicating features or
    bucket members.  Bucket growth uses the same cap-composition algebra
    as fold_delta; `bucket_stats` is NOT refreshed (it is an occupancy
    snapshot of the original build — recomputing it needs the uncapped
    band table, an O(history) pass the enrollment path refuses to pay).
    """
    cfg = cfg or Config()
    wh = Warehouse(spark, warehouse_dir, cfg, run_id=run_id)
    wh.read_config()
    run = StageRunner(wh)

    # drop already-enrolled ids: present-id lookup is a broadcast semi
    # against the features scan (same shape as merge_clusters' fresh-ids
    # rule — never an anti-join whose build side is the history)
    delta_ids = delta_clips.select("clip_id").distinct()
    present = (
        wh.read("features")
        .select("clip_id")
        .join(F.broadcast(delta_ids), "clip_id", "left_semi")
        .distinct()
    )
    fresh_clips = delta_clips.join(F.broadcast(present), "clip_id", "left_anti")

    # localCheckpoint BEFORE the append: this plan's lineage reads the very
    # features table the append is about to grow — a recompute after the
    # append would see the just-enrolled ids as "present", collapse fresh
    # to empty, and make the enrollment vanish from its own bucket update
    # (observed: n_enrolled=0 with the rows already appended).  Same class
    # as fold_delta's confirmed_delta checkpoint, append-flavored.
    delta_features = run.timed(
        "featurize",
        lambda: shingle_op.featurize(fresh_clips, cfg).localCheckpoint(eager=True),
    )
    n_fresh = delta_features.select("clip_id").distinct().count()
    n_new = run.write("features", lambda: delta_features, mode="append",
                      partition_by=("kind",))
    if "transcript" in delta_clips.columns and wh.exists("transcripts"):
        run.write("transcripts", lambda: fresh_clips.select("clip_id", "transcript"),
                  mode="append")

    touched, _, new_buckets = _recap_touched(wh.read("lsh_buckets"), delta_features, cfg)
    run.write("lsh_buckets", lambda: new_buckets, replace=True)
    run.flush()

    summary = {
        "run_id": wh.run_id,
        "timings": run.timings,
        "n_enrolled": n_fresh,
        "n_already_present": delta_ids.count() - n_fresh,
        "n_features_total": n_new,
        "n_touched_buckets": touched.count(),
    }
    touched.unpersist()
    return summary


def fold_delta(
    spark: SparkSession,
    delta_clips: DataFrame,
    warehouse_dir: str,
    cfg: Config | None = None,
    run_id: str = "",
) -> dict:
    """Fold ``delta_clips`` (clip rows NOT already in the warehouse) into
    the warehouse built by jobs/pipeline.py (or a previous fold).

    Updates in place: features/transcripts/confirmed_pairs are appended,
    buckets are re-capped in the touched keys only, clusters are merged
    incrementally (operators/cluster.merge_clusters), unique_clips is
    maintained by an O(delta) add/remove.  Returns a summary dict.

    ``bucket_stats`` is NOT refreshed (same staleness as grow_index, and
    for the same reason: an exact occupancy histogram needs the uncapped
    band table, an O(history) pass) — a consumer reading it after a fold
    sees the pre-fold drop accounting (ADVICE r7 #4).
    """
    cfg = cfg or Config()
    wh = Warehouse(spark, warehouse_dir, cfg, run_id=run_id)
    wh.read_config()  # refuse to fold under a different params_hash
    run = StageRunner(wh)

    delta_ids = delta_clips.select("clip_id")

    # -- features: delta-only featurize, appended under the same layout
    delta_features = shingle_op.featurize(delta_clips, cfg).persist()
    run.write("features", lambda: delta_features, mode="append", partition_by=("kind",),
              counters=shingle_op.decode_counters("decode_failed_delta"))

    # -- buckets: re-cap ONLY the keys the delta touches (_recap_touched).
    # The re-capped rows are persisted: the candidates read them as well
    # as the rewrite.
    touched, merged_touched, new_buckets = _recap_touched(
        wh.read("buckets"), delta_features, cfg)
    merged_touched.persist()

    # -- candidates + verify, restricted to pairs that touch the delta.
    # Band counts are exact vs a full rebuild: every bucket containing a
    # delta clip is in `touched`, so no co-occurrence is missed.
    cands = pairs_op.candidate_pairs(merged_touched, cfg)
    delta_cands = _pairs_touching(cands, delta_ids).persist()
    # verify must NOT drag the history's fat shingle table through a
    # shuffle for a delta-sized pair set: restrict features/transcripts to
    # the pair members first (broadcast semi = scan-only on the history
    # table, output O(delta * cap) rows).  This also flips verify's
    # size-routed gate back to the broadcast fast path — measured at 240k,
    # the unrestricted fold shuffled the full 2-channel shingle payload
    # twice per channel and cost as much as the rebuild it replaces.
    pair_ids = (
        delta_cands.select(F.col("clip_a").alias("clip_id"))
        .unionByName(delta_cands.select(F.col("clip_b").alias("clip_id")))
        .distinct()
    )
    features_all = wh.read("features")  # includes the appended delta rows
    features_needed = features_all.join(
        F.broadcast(pair_ids), "clip_id", "left_semi"
    ).persist()
    # eager: pay the one unavoidable full scan of the history's feature
    # table HERE, once — verify's several consumers (two channels x
    # narrow+fat projections + the broadcast-gate count) then read the
    # delta-sized cache instead of re-scanning the fat payload each time
    run.timed("candidates", lambda: delta_cands.count())
    run.timed("pair_features_scan", lambda: features_needed.count())
    if wh.exists("transcripts"):
        tr_old = wh.read("transcripts")
    else:
        tr_old = spark.createDataFrame([], "clip_id string, transcript string")
    if "transcript" in delta_clips.columns:
        tr_delta = delta_clips.select("clip_id", "transcript")
        run.write("transcripts", lambda: tr_delta, mode="append")
        tr_all = tr_old.unionByName(tr_delta)
    else:
        tr_all = tr_old
    tr_needed = tr_all.join(F.broadcast(pair_ids), "clip_id", "left_semi")
    # localCheckpoint(eager), NOT persist: everything downstream of this
    # point (cluster merge, unique maintenance, summary counts) runs AFTER
    # wh.replace has swapped the buckets directory out from under this
    # plan's lineage — a persisted-but-evicted partition would silently
    # re-derive the verify chain against the replaced table (measured as a
    # surprise ~90 s re-verify mid-fold before this fix; a truncated
    # lineage cannot recompute, so it can neither pay that nor read swapped
    # data).
    confirmed_delta = run.timed(
        "verify",
        lambda: verify_op.confirm_pairs(
            delta_cands, features_needed, tr_needed, cfg
        ).localCheckpoint(eager=True),
    )
    n_new_pairs = run.write("confirmed_pairs", lambda: confirmed_delta, mode="append")
    n_delta_pairs = confirmed_delta.count()

    # -- buckets rewrite (_recap_touched).  The directory swap happens
    # HERE, before the cluster/unique updates — safe only because every
    # later consumer reads the checkpointed confirmed_delta, never back
    # through the bucket lineage.
    run.write("buckets", lambda: new_buckets, replace=True)

    # -- clusters: incremental CC (assignment scanned, never shuffled)
    old_clusters = wh.read("clusters")
    merged_clusters = run.timed(
        "clusters_merge",
        lambda: cluster_op.merge_clusters(
            old_clusters,
            confirmed_delta.select("clip_a", "clip_b"),
            cfg,
            new_clips=delta_ids,
        ),
    )
    run.write("clusters", lambda: merged_clusters, replace=True)

    # -- unique_clips: O(delta) maintenance — ids that gained a partner
    # leave, partnerless delta clips enter.  (A previously-paired old clip
    # can never become unique again: confirmed pairs are only added.)  The
    # table is ids-only (cluster.unique_clips docstring), so the parquet
    # copy-on-write here moves ids, never byte payloads.
    paired_ids = (
        confirmed_delta.select(F.col("clip_a").alias("clip_id"))
        .unionByName(confirmed_delta.select(F.col("clip_b").alias("clip_id")))
        .distinct()
    )
    old_unique = wh.read("unique_clips")
    new_unique = old_unique.unionByName(
        delta_clips.select(*old_unique.columns)
    ).join(F.broadcast(paired_ids), "clip_id", "left_anti")
    run.write("unique_clips", lambda: new_unique, replace=True)
    run.flush()

    summary = {
        "run_id": wh.run_id,
        "timings": run.timings,
        # counted off the cached features, NOT the input df — the caller may
        # hand a filtered view of a huge table, and re-scanning it for a
        # summary number would be its own O(corpus) pass
        "n_delta_clips": delta_features.select("clip_id").distinct().count(),
        "n_delta_pairs": n_delta_pairs,
        "n_confirmed_total": n_new_pairs,
        "n_touched_buckets": touched.count(),
    }
    for df in (delta_features, touched, merged_touched, delta_cands,
               features_needed):
        df.unpersist()
    return summary
