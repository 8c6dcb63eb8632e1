"""Build-index + search jobs: the reference's actual two-executable flow
(library build, then query probe with matched/unmatched classification —
README.md:85-99 quick-test shape)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobs.build_index import build_index
from jobs.search import search


@pytest.fixture(scope="module")
def split_corpus(spark, corpus_xs):
    """Library = base clips + hot clique; queries = variants + fresh solos.
    Every query that is a variant of a library base must match; solo queries
    must not."""
    lay = corpus_xs["layout"]
    clips = corpus_xs["clips"]
    lib_ids = set(lay[(lay.variant_idx == 0) | (lay.group_kind == "hot")]["clip_id"])
    lib = clips[clips.clip_id.isin(lib_ids)]
    qry = clips[~clips.clip_id.isin(lib_ids)]
    return spark.createDataFrame(lib), spark.createDataFrame(qry), lay


def test_build_and_search(spark, split_corpus, cfg, tmp_path_factory):
    lib, qry, lay = split_corpus
    wh_dir = str(tmp_path_factory.mktemp("index"))
    build_index(spark, lib, wh_dir, cfg=cfg)
    res = search(spark, qry, wh_dir, cfg=cfg)
    matched = {r["clip_id"] for r in res["matched"].collect()}
    unmatched = {r["clip_id"] for r in res["unmatched"].collect()}
    n_q = qry.count()
    assert len(matched) + len(unmatched) == n_q
    # every query is a dup-variant whose base is in the library -> matched
    variants = set(
        lay[(lay.group_kind == "dup") & (lay.variant_idx > 0)]["clip_id"]
    ) & (matched | unmatched)
    recall = len(variants & matched) / max(1, len(variants))
    assert recall >= 0.99, f"probe recall {recall:.3f}"


def test_search_rejects_mismatched_config(spark, split_corpus, cfg, tmp_path_factory):
    from consult_spark.config import Config

    lib, qry, _ = split_corpus
    wh_dir = str(tmp_path_factory.mktemp("index2"))
    build_index(spark, lib, wh_dir, cfg=cfg)
    with pytest.raises(ValueError):
        search(spark, qry, wh_dir, cfg=Config(bucket_cap=5))


def test_search_adopts_stored_config(spark, split_corpus, tmp_path_factory):
    """An index built under a NON-default Config is searchable with no cfg
    argument at all — search adopts the persisted config (CONSULT reads
    _meta back and runs with it, main_search.cpp:164-381)."""
    from consult_spark.config import Config

    lib, qry, _ = split_corpus
    wh_dir = str(tmp_path_factory.mktemp("index3"))
    custom = Config(bucket_cap=48, n_salts=4)
    build_index(spark, lib, wh_dir, cfg=custom)
    res = search(spark, qry.limit(20), wh_dir)  # no cfg passed
    assert res["matched"].count() + res["unmatched"].count() == 20


def test_search_pcm_only_index_skips_lcs(spark, split_corpus, tmp_path_factory):
    """Probe against a pcm-only index (no transcripts table) must not fail —
    the LCS channel is skipped, pcm verification still classifies."""
    from consult_spark.config import Config

    lib, qry, _ = split_corpus
    wh_dir = str(tmp_path_factory.mktemp("index4"))
    pcm_only = Config(channels=("pcm",))
    build_index(spark, lib.drop("transcript"), wh_dir, cfg=pcm_only)
    res = search(spark, qry.drop("transcript").limit(20), wh_dir)
    assert res["matched"].count() + res["unmatched"].count() == 20


def test_search_returns_the_frames_it_persisted(spark, split_corpus, cfg, tmp_path_factory):
    """search() hands back every frame the probe persisted as
    res["cached"]; once the results are written and those frames are
    unpersisted, the search leaves no persisted RDD behind."""
    lib, qry, _ = split_corpus
    wh_dir = str(tmp_path_factory.mktemp("index5"))
    out = tmp_path_factory.mktemp("search_out")
    build_index(spark, lib, wh_dir, cfg=cfg)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    res = search(spark, qry, wh_dir, cfg=cfg)
    res["confirmed"].write.parquet(str(out / "matched_clips"))
    res["unmatched"].write.parquet(str(out / "unmatched_clips"))
    assert res["cached"] and all(df.is_cached for df in res["cached"])
    assert set(jsc.getPersistentRDDs().keys()) - before
    for df in res["cached"]:
        df.unpersist()
    assert not set(jsc.getPersistentRDDs().keys()) - before
