"""Incremental delta fold (consult_spark/incremental.py): the cap-
composition algebra, full-rebuild equality on the real corpus, and the
config guard."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from consult_spark.config import Config
from consult_spark.incremental import fold_delta
from consult_spark.operators.bands import capped_buckets
from jobs.pipeline import run_pipeline

BAND_SCHEMA = (
    "clip_id string, kind string, simhash long, n_shingles int, "
    "table_l int, band_hash long"
)


def _rand_bands(rng: random.Random, ids: list[str], n_rows: int):
    """Synthetic band rows: few buckets so the cap genuinely binds, ids
    drawn from a mixed pool so delta ids sort BEFORE old ids (evictions
    exercised, not just appends)."""
    rows = []
    seen = set()
    for _ in range(n_rows):
        cid = rng.choice(ids)
        key = (rng.choice(["pcm", "txt"]), rng.randrange(4), rng.randrange(6))
        if (cid, key) in seen:  # one row per (clip, bucket), like explode_bands
            continue
        seen.add((cid, key))
        rows.append((cid, key[0], rng.getrandbits(32), rng.randrange(1, 99),
                     key[1], key[2]))
    return rows


@pytest.mark.parametrize("seed", [1, 7])
def test_cap_composition_invariant(spark, seed):
    """cap(cap(C) ∪ D) == cap(C ∪ D): the algebraic fact that makes the
    stored capped buckets a sufficient statistic for incremental growth —
    including when delta ids sort before old survivors and EVICT them."""
    rng = random.Random(seed)
    ids = [f"{c}{i:03d}" for c in "abcdefgh" for i in range(12)]
    rng.shuffle(ids)
    old_rows = _rand_bands(rng, ids[: len(ids) // 2], 400)
    new_rows = _rand_bands(rng, ids[len(ids) // 2 :], 150)
    cfg = Config(bucket_cap=3)
    C = spark.createDataFrame(old_rows, BAND_SCHEMA)
    D = spark.createDataFrame(new_rows, BAND_SCHEMA)
    incremental = capped_buckets(capped_buckets(C, cfg).unionByName(D), cfg)
    rebuild = capped_buckets(C.unionByName(D), cfg)
    assert sorted(map(tuple, incremental.collect())) == sorted(
        map(tuple, rebuild.collect())
    )


def test_fold_delta_equals_full_rebuild(spark, corpus_xs, cfg, tmp_path):
    """Build a warehouse over the library (bases + hot clique), fold the
    variants in as a delta, and every output table must equal a full
    pipeline run over the whole corpus — buckets byte-for-byte (the cap
    algebra), confirmed_pairs / clusters / unique_clips exactly."""
    lay = corpus_xs["layout"]
    clips_pd = corpus_xs["clips"]
    base_ids = set(lay[(lay.variant_idx == 0) | (lay.group_kind == "hot")]["clip_id"])
    base = spark.createDataFrame(clips_pd[clips_pd.clip_id.isin(base_ids)])
    delta = spark.createDataFrame(clips_pd[~clips_pd.clip_id.isin(base_ids)])
    allc = spark.createDataFrame(clips_pd)

    wh_inc = str(tmp_path / "wh_inc")
    wh_full = str(tmp_path / "wh_full")
    run_pipeline(spark, base, wh_inc, cfg=cfg)
    summary = fold_delta(spark, delta, wh_inc, cfg=cfg)
    assert summary["n_delta_clips"] == delta.count()
    assert summary["n_delta_pairs"] > 0
    run_pipeline(spark, allc, wh_full, cfg=cfg)

    def rows(wh, table, cols):
        return sorted(
            map(tuple, spark.read.parquet(f"{wh}/{table}").select(*cols).collect())
        )

    bucket_cols = ["clip_id", "kind", "simhash", "n_shingles", "table_l", "band_hash"]
    for table, cols in [
        ("buckets", bucket_cols),
        ("confirmed_pairs", ["clip_a", "clip_b", "pcm_jaccard", "is_dup"]),
        ("clusters", ["clip_id", "cluster_id"]),
        ("unique_clips", ["clip_id"]),
    ]:
        assert rows(wh_inc, table, cols) == rows(wh_full, table, cols), table

    # features were appended under the same partition layout: one row per
    # (clip, kind) over the whole corpus
    feats = spark.read.parquet(f"{wh_inc}/features")
    assert feats.count() == feats.select("clip_id", "kind").distinct().count()
    assert feats.select("clip_id").distinct().count() == len(clips_pd)


def test_fold_eviction_monotonicity(spark, corpus_xs, tmp_path):
    """When delta clip_ids sort BEFORE the library's, re-capping evicts old
    bucket members — the rebuild can lose an old-old pair's LSH route while
    the fold keeps the already-verified pair.  Pin the documented contract
    under forced eviction (tiny cap, delta ids lexically first):
      (1) rebuild pairs ⊆ fold pairs,
      (2) pairs touching a delta clip are EXACTLY the rebuild's,
      (3) any extras are old-old.
    (The 240k bench observed this class in the wild: 9,248 extras, all
    old-old — BENCH/DELTA.md.)"""
    lay = corpus_xs["layout"]
    clips_pd = corpus_xs["clips"].copy()
    delta_mask = ~(lay.set_index("clip_id").loc[clips_pd.clip_id, "variant_idx"].values == 0) & ~(
        lay.set_index("clip_id").loc[clips_pd.clip_id, "group_kind"].values == "hot"
    )
    # delta ids get an 'a!' prefix (sorts before every base id), base 'z!'
    clips_pd["clip_id"] = [
        ("a!" if d else "z!") + c for d, c in zip(delta_mask, clips_pd["clip_id"])
    ]
    base = spark.createDataFrame(clips_pd[~delta_mask])
    delta = spark.createDataFrame(clips_pd[delta_mask])
    allc = spark.createDataFrame(clips_pd)

    cfg = Config(bucket_cap=2)  # tiny cap: any shared bucket forces eviction
    wh_inc = str(tmp_path / "wh_inc")
    wh_full = str(tmp_path / "wh_full")
    run_pipeline(spark, base, wh_inc, cfg=cfg)
    base_bucket_rows = spark.read.parquet(f"{wh_inc}/buckets").count()
    fold_delta(spark, delta, wh_inc, cfg=cfg)
    run_pipeline(spark, allc, wh_full, cfg=cfg)
    # non-vacuous: the front-sorting delta must actually evict base members
    # from shared capped buckets (the precondition the contract is about)
    post_base_rows = (
        spark.read.parquet(f"{wh_inc}/buckets")
        .filter(F.col("clip_id").startswith("z!"))
        .count()
    )
    assert post_base_rows < base_bucket_rows, "no eviction — tighten the setup"

    fold_pairs = {
        (r.clip_a, r.clip_b)
        for r in spark.read.parquet(f"{wh_inc}/confirmed_pairs").select("clip_a", "clip_b").collect()
    }
    rebuild_pairs = {
        (r.clip_a, r.clip_b)
        for r in spark.read.parquet(f"{wh_full}/confirmed_pairs").select("clip_a", "clip_b").collect()
    }
    assert rebuild_pairs <= fold_pairs  # (1) never loses a rebuild pair

    def touches_delta(p):
        return p[0].startswith("a!") or p[1].startswith("a!")

    assert {p for p in fold_pairs if touches_delta(p)} == {
        p for p in rebuild_pairs if touches_delta(p)
    }  # (2) delta-touching pairs exact
    extras = fold_pairs - rebuild_pairs
    assert all(not touches_delta(p) for p in extras)  # (3) extras old-old
    # NOTE extras may be empty here: evicting a bucket slot only drops an
    # old-old pair when that bucket was the pair's LAST route past the
    # c-threshold, which needs corpus scale to occur (observed in the wild
    # at 240k: 9,248 extras, all old-old — BENCH/DELTA.md); this test pins
    # the contract's direction under real eviction, the bench pins the
    # nonzero case.


def test_snapshot_restore_recovers_failed_fold(spark, corpus_xs, tmp_path, monkeypatch):
    """The jobs/delta_dedup.py crash guard: snapshot, fail a fold AFTER it
    has already dirtied the warehouse (features appended), restore — every
    table and manifest must be byte-for-byte the pre-fold state, and a
    retried fold against the restored warehouse must succeed normally."""
    import hashlib
    import os

    from consult_spark.io import Warehouse

    clips_pd = corpus_xs["clips"]
    lay = corpus_xs["layout"]
    base_ids = set(lay[(lay.variant_idx == 0) | (lay.group_kind == "hot")]["clip_id"])
    base = spark.createDataFrame(clips_pd[clips_pd.clip_id.isin(base_ids)])
    delta = spark.createDataFrame(clips_pd[~clips_pd.clip_id.isin(base_ids)])
    wh_dir = str(tmp_path / "wh")
    cfg = Config()
    run_pipeline(spark, base, wh_dir, cfg=cfg)

    def tree_state(root):
        state = {}
        for dirpath, _, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                if fn.endswith(".crc"):
                    continue
                with open(p, "rb") as f:
                    state[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
        return state

    before = tree_state(wh_dir)
    wh = Warehouse(spark, wh_dir, cfg)
    snap = wh.snapshot()

    # fail the fold after the features append (state already dirty)
    import consult_spark.incremental as inc

    def boom(*a, **k):
        raise RuntimeError("injected mid-fold failure")

    monkeypatch.setattr(inc.verify_op, "confirm_pairs", boom)
    with pytest.raises(RuntimeError, match="injected"):
        fold_delta(spark, delta, wh_dir, cfg=cfg)
    assert tree_state(wh_dir) != before  # the crash really left a dirty state

    wh.restore(snap)
    assert tree_state(wh_dir) == before  # byte-for-byte recovery

    # and the retried fold (restored verify) completes with the right totals
    monkeypatch.undo()
    summary = fold_delta(spark, delta, wh_dir, cfg=cfg)
    assert summary["n_confirmed_total"] == 1374  # full-corpus golden


def test_restore_crash_window_recovers(spark, tmp_path):
    """A restore() interrupted between discarding the live tree and
    promoting the snapshot must not lose the warehouse: the payload is
    staged under the fixed __restore_incoming name, and the next
    Warehouse open completes the promotion instead of mkdir-ing an
    empty root over it (ADVICE r7 #3)."""
    import os
    import shutil

    from consult_spark.io import Warehouse

    root = str(tmp_path / "wh")
    os.makedirs(root)
    with open(os.path.join(root, "payload.txt"), "w") as f:
        f.write("v1")
    cfg = Config()
    wh = Warehouse(spark, root, cfg)

    # simulate the exact crash window: snapshot staged as incoming, live
    # tree already discarded to trash, promotion rename never ran
    snap = wh.snapshot(tag="t")
    with open(os.path.join(root, "extra.txt"), "w") as f:
        f.write("dirty")
    os.replace(snap, f"{root}.__restore_incoming")
    os.replace(root, f"{root}.__restore_trash")

    Warehouse(spark, root, cfg)  # next open finishes the promotion
    with open(os.path.join(root, "payload.txt")) as f:
        assert f.read() == "v1"
    assert not os.path.exists(os.path.join(root, "extra.txt"))
    assert not os.path.isdir(f"{root}.__restore_incoming")
    shutil.rmtree(f"{root}.__restore_trash", ignore_errors=True)

    # restore() itself must also resume from a staged incoming payload
    # (crash after the snap->incoming rename: snap path is consumed)
    snap2 = wh.snapshot(tag="t2")
    with open(os.path.join(root, "extra.txt"), "w") as f:
        f.write("dirty2")
    os.replace(snap2, f"{root}.__restore_incoming")
    wh.restore(snap2)
    with open(os.path.join(root, "payload.txt")) as f:
        assert f.read() == "v1"
    assert not os.path.exists(os.path.join(root, "extra.txt"))


def test_concurrent_heal_counts_as_success(spark, tmp_path, monkeypatch):
    """Two opens racing to finish the same interrupted restore both pass the
    isdir checks; the loser's rename finds the staged payload already gone.
    That open must succeed on the healed root, not raise (ADVICE #3)."""
    import os

    from consult_spark.io import Warehouse

    root = str(tmp_path / "wh")
    incoming = f"{root}.__restore_incoming"
    os.makedirs(incoming)
    with open(os.path.join(incoming, "payload.txt"), "w") as f:
        f.write("v1")

    real_replace = os.replace

    def racing_replace(src, dst):
        # the concurrent open wins: the live root appears after this open's
        # isdir checks, then this open's own rename runs
        real_replace(src, dst)
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", racing_replace)
    Warehouse(spark, root, Config())
    monkeypatch.undo()
    with open(os.path.join(root, "payload.txt")) as f:
        assert f.read() == "v1"
    assert not os.path.isdir(incoming)


def test_restore_refuses_a_staged_payload_of_another_snapshot(spark, tmp_path):
    """A payload left staged by an earlier interrupted restore is resumed
    only for the snapshot it came from: a wrong or already-dropped snap
    path raises and leaves the live warehouse and the staged payload as
    they are (ADVICE #1)."""
    import os

    from consult_spark.io import Warehouse

    root = str(tmp_path / "wh")
    os.makedirs(root)
    with open(os.path.join(root, "payload.txt"), "w") as f:
        f.write("old")
    wh = Warehouse(spark, root, Config())
    stale = wh.snapshot(tag="old")
    os.replace(stale, f"{root}.__restore_incoming")  # staged, never promoted
    # a new file, not a rewrite: the snapshot hardlinks the old one
    os.remove(os.path.join(root, "payload.txt"))
    with open(os.path.join(root, "payload.txt"), "w") as f:
        f.write("live")

    with pytest.raises(FileNotFoundError):
        wh.restore(f"{root}.__snapshot_dropped")
    with open(os.path.join(root, "payload.txt")) as f:
        assert f.read() == "live"
    assert os.path.isdir(f"{root}.__restore_incoming")

    wh.restore(stale)  # the snapshot it was staged from still resumes
    with open(os.path.join(root, "payload.txt")) as f:
        assert f.read() == "old"
    assert "_snapshot_path" not in os.listdir(root)  # the marker goes with promotion


def test_staged_restore_beside_live_root_warns(spark, tmp_path):
    """Opening a warehouse whose unfinished restore payload sits beside an
    intact live root warns instead of leaving it to be silently reaped
    (ADVICE #2)."""
    import os

    from consult_spark.io import Warehouse

    root = str(tmp_path / "wh")
    os.makedirs(root)
    os.makedirs(f"{root}.__restore_incoming")
    with pytest.warns(UserWarning, match="unfinished restore"):
        Warehouse(spark, root, Config())
    assert os.path.isdir(f"{root}.__restore_incoming")


def test_fold_rejects_params_mismatch(spark, corpus_xs, tmp_path):
    """A warehouse built under one params_hash refuses a fold configured
    with another (same contract as Warehouse.read_config)."""
    clips = spark.createDataFrame(corpus_xs["clips"].head(20))
    wh = str(tmp_path / "wh")
    run_pipeline(spark, clips, wh, cfg=Config())
    with pytest.raises(ValueError, match="params_hash"):
        fold_delta(spark, clips, wh, cfg=Config(bucket_cap=5))
