"""Corrupt / foreign-codec clips must be per-clip soft failures, never
task-fatal: the featurize stage emits an empty pcm shingle set with
decode_ok=False, the pipeline completes, and the failure count lands in the
metrics table.  CONSULT's analog: unparseable tokens are skipped, not
aborted on (main_search.cpp:770-781)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from consult_spark.operators import shingle as SH


@pytest.fixture(scope="module")
def dirty_clips(spark, corpus_xs):
    """20 good clips + 1 corrupt container + 1 unimplemented codec."""
    good = corpus_xs["clips"].head(20).copy()
    bad = pd.DataFrame(
        [
            ("corrupt_0", b"\x00garbage-not-riff" * 64, 16000, 100, "pcm_s16le", "corrupt payload transcript"),
            ("mp3_0", bytes(corpus_xs["clips"].iloc[0]["bytes"]), 16000, 100, "mp3", "mp3 codec transcript"),
        ],
        columns=good.columns,
    )
    return spark.createDataFrame(pd.concat([good, bad], ignore_index=True)).cache()


def test_featurize_survives_bad_rows(dirty_clips, cfg):
    feats = SH.featurize(dirty_clips, cfg).collect()
    by_key = {(r["clip_id"], r["kind"]): r for r in feats}
    assert len(feats) == 2 * dirty_clips.count()  # no row went missing
    for cid in ("corrupt_0", "mp3_0"):
        pcm = by_key[(cid, "pcm")]
        assert pcm["decode_ok"] is False
        assert pcm["n_shingles"] == 0 and len(pcm["shingles"]) == 0
        # the text channel still works — the clip can still dedup by transcript
        txt = by_key[(cid, "txt")]
        assert txt["decode_ok"] is True and txt["n_shingles"] > 0
    n_failed = sum(1 for r in feats if not r["decode_ok"])
    assert n_failed == 2


def test_pipeline_completes_and_reports_decode_failures(spark, dirty_clips, cfg, tmp_path):
    from jobs.pipeline import run_pipeline

    res = run_pipeline(spark, dirty_clips, str(tmp_path / "wh"), cfg)
    clusters = res["tables"]["clusters"]
    assert clusters.count() == dirty_clips.count()  # bad clips still clustered
    assert clusters.filter(F.col("clip_id").isin("corrupt_0", "mp3_0")).count() == 2
    metrics = res["warehouse"].read("metrics")
    row = metrics.filter(
        (F.col("stage") == "features") & (F.col("key") == "decode_failed")
    ).head()
    assert row is not None and row["value"] == 2.0


def test_resumed_pipeline_keeps_the_first_runs_decode_count(spark, dirty_clips, cfg, tmp_path):
    """decode_failed is observed by the features write: a resumed run that
    skips the stage completes and records no second count, and the first
    run's row stays."""
    from jobs.pipeline import run_pipeline

    wh = str(tmp_path / "wh")
    first = run_pipeline(spark, dirty_clips, wh, cfg)
    resumed = run_pipeline(spark, dirty_clips, wh, cfg, resume=True)
    assert resumed["timings"]["features"] == 0.0
    rows = (resumed["warehouse"].read("metrics")
            .filter((F.col("stage") == "features") & (F.col("key") == "decode_failed"))
            .collect())
    assert [(r["run_id"], r["value"]) for r in rows] == [(first["run_id"], 2.0)]


def test_null_payload_is_a_per_item_decode_failure(spark, corpus_xs, cfg, tmp_path):
    """A null ``bytes`` cell (nullable in the clips and images schemas)
    fails only the payload channel of its own row — from a DataFrame, from
    parquet files and for images — while txt still scores the transcript."""
    import numpy as np

    from consult_spark.datagen import CLIPS_SCHEMA
    from consult_spark.operators import multimodal as MM

    good = corpus_xs["clips"].head(3)
    null = pd.DataFrame([("null_0", None, 16000, 100, "pcm_s16le", "null payload transcript")],
                        columns=good.columns)
    clips = spark.createDataFrame(pd.concat([good, null], ignore_index=True), CLIPS_SCHEMA)
    path = str(tmp_path / "clips")
    clips.write.parquet(path)
    for feats in (SH.featurize(clips, cfg), SH.featurize_from_parquet(spark, path, cfg)):
        got = {(r["clip_id"], r["kind"]): r for r in feats.collect()}
        assert len(got) == 2 * 4
        assert not got[("null_0", "pcm")]["decode_ok"]
        assert got[("null_0", "pcm")]["n_shingles"] == 0
        assert got[("null_0", "txt")]["decode_ok"] and got[("null_0", "txt")]["n_shingles"] > 0
        assert all(r["decode_ok"] for (cid, _), r in got.items() if cid != "null_0")

    img = np.random.default_rng(3).integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    ppm = b"P6\n16 16\n255\n" + img.tobytes()
    images = spark.createDataFrame(
        [("img_ok", ppm, 16, 16, "ppm"), ("img_null", None, 16, 16, "ppm")], MM.IMAGES_SCHEMA)
    got = {r["clip_id"]: r for r in MM.featurize_images(images, cfg).collect()}
    assert got["img_ok"]["decode_ok"] and got["img_ok"]["n_shingles"] > 0
    assert not got["img_null"]["decode_ok"] and got["img_null"]["n_shingles"] == 0
