"""Candidate-pair generation + verification vs oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from consult_spark.operators import bands as B
from consult_spark.operators import pairs as P
from consult_spark.operators import shingle as SH
from consult_spark.operators import verify as V


@pytest.fixture(scope="module")
def features_xs(spark, clips_xs, cfg):
    return SH.featurize(clips_xs, cfg).cache()


@pytest.fixture(scope="module")
def buckets_xs(spark, features_xs, cfg):
    return B.capped_buckets(B.explode_bands(features_xs), cfg).cache()


@pytest.fixture(scope="module")
def candidates_xs(spark, buckets_xs, cfg):
    return P.candidate_pairs(buckets_xs, cfg).cache()


def test_pairs_canonical_and_distinct(candidates_xs):
    rows = candidates_xs.collect()
    seen = set()
    for r in rows:
        assert r["clip_a"] < r["clip_b"]
        assert (r["clip_a"], r["clip_b"]) not in seen
        seen.add((r["clip_a"], r["clip_b"]))


def test_candidates_match_oracle(candidates_xs, oracle_xs):
    got = {
        (r["clip_a"], r["clip_b"]): (r["n_bands_pcm"], r["n_bands_txt"])
        for r in candidates_xs.collect()
    }
    exp = {
        pair: (info["n_bands_pcm"], info["n_bands_txt"])
        for pair, info in oracle_xs.candidates.items()
    }
    assert got == exp


def test_confirmed_match_oracle(spark, candidates_xs, features_xs, clips_xs, oracle_xs, cfg):
    confirmed = V.confirm_pairs(candidates_xs, features_xs, clips_xs, cfg)
    got = {(r["clip_a"], r["clip_b"]): r.asDict() for r in confirmed.collect()}
    assert set(got) == set(oracle_xs.confirmed)
    for pair, exp in oracle_xs.confirmed.items():
        g = got[pair]
        assert abs(g["pcm_jaccard"] - exp["pcm_jaccard"]) < 1e-12, pair
        assert abs(g["txt_jaccard"] - exp["txt_jaccard"]) < 1e-12, pair
        assert g["pcm_hamming"] == exp["pcm_hamming"], pair
        assert g["txt_hamming"] == exp["txt_hamming"], pair
        assert g["lcs"] == exp["lcs"], pair
        assert g["substr"] == exp["substr"], pair
        assert g["n_bands_pcm"] == exp["n_bands_pcm"], pair


def test_hot_clique_pairs_found(candidates_xs, corpus_xs):
    """All hot-clique members must pair with each other (subject only to the
    bucket cap, which at 64 > 50 clique members drops nothing)."""
    hot = sorted(
        corpus_xs["layout"][corpus_xs["layout"].group_kind == "hot"]["clip_id"]
    )
    got = {
        (r["clip_a"], r["clip_b"])
        for r in candidates_xs.filter(
            F.col("clip_a").startswith("hot_") & F.col("clip_b").startswith("hot_")
        ).collect()
    }
    expected = {(a, b) for i, a in enumerate(hot) for b in hot[i + 1 :]}
    missing = expected - got
    assert len(missing) / len(expected) <= 0.01, f"{len(missing)} hot pairs missed"


def test_simhash_prefilter_does_not_lose_dups(spark, features_xs, oracle_xs, cfg):
    """Every oracle-confirmed pair has simhash hamming inside the prefilter
    on its deciding channel (else the prefilter would cost recall)."""
    sims = {
        (r["clip_id"], r["kind"]): int(np.uint64(np.int64(r["simhash"])))
        for r in features_xs.select("clip_id", "kind", "simhash").collect()
    }
    for (a, b), info in oracle_xs.confirmed.items():
        if info["pcm_jaccard"] >= cfg.jaccard_threshold:
            ham = bin(sims[(a, "pcm")] ^ sims[(b, "pcm")]).count("1")
            assert ham <= cfg.simhash_prefilter_max, (a, b, ham)


def test_no_cross_channel_band_summing(spark, cfg):
    """ADVICE round-2: with c=2, a pair colliding once in 'img' and once in
    'vid' must NOT qualify (no single channel reached c), while a pair
    colliding twice within 'img' must."""
    from consult_spark.config import Config
    from consult_spark.operators import pairs as P

    rows = [
        # (kind, table_l, band_hash, clip_id): pair (a,b) 1x img + 1x vid
        ("img", 0, 111, "a"), ("img", 0, 111, "b"),
        ("vid", 1, 222, "a"), ("vid", 1, 222, "b"),
        # pair (c,d): 2x img
        ("img", 2, 333, "c"), ("img", 2, 333, "d"),
        ("img", 3, 444, "c"), ("img", 3, 444, "d"),
    ]
    buckets = spark.createDataFrame(
        rows, "kind string, table_l int, band_hash long, clip_id string"
    )
    got = {
        (r["clip_a"], r["clip_b"])
        for r in P.candidate_pairs(buckets, Config(min_common_bands=2)).collect()
    }
    assert got == {("c", "d")}


def test_missing_transcript_keeps_txt_scores(spark, candidates_xs, features_xs, clips_xs,
                                             oracle_xs, cfg):
    """Transcripts attach to the txt channel with LEFT joins: a pcm-confirmed
    pair whose members both have txt features, but one of whom has no
    transcripts row, keeps its real txt_jaccard/txt_hamming and scores
    lcs = 0, substr = false instead of vanishing from the txt scores."""
    pair, exp = next(
        (p, e) for p, e in sorted(oracle_xs.confirmed.items())
        if e["pcm_jaccard"] >= cfg.jaccard_threshold and e["lcs"] > 0
        and e["txt_hamming"] <= cfg.simhash_prefilter_max
    )
    a, b = pair
    cands = candidates_xs.filter((F.col("clip_a") == a) & (F.col("clip_b") == b))
    clips = clips_xs.filter(F.col("clip_id") != b)
    rows = V.confirm_pairs(cands, features_xs, clips, cfg).collect()
    assert len(rows) == 1
    got = rows[0]
    assert abs(got["txt_jaccard"] - exp["txt_jaccard"]) < 1e-12
    assert got["txt_jaccard"] > 0
    assert got["txt_hamming"] == exp["txt_hamming"]
    assert got["lcs"] == 0 and got["substr"] is False


def test_channel_scores_without_transcripts_skip_containment(spark, cfg):
    """channel_scores' sides carry no transcripts: on the img channel every
    scored row has has_lcs = false, lcs = 0 and substr = false, in the one
    scorer schema every channel shares."""
    import os

    from consult_spark.operators import multimodal as MM

    images = spark.read.parquet(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                     "media_images.parquet")
    )
    feats = MM.featurize_images(images, cfg)
    cands = P.candidate_pairs(B.capped_buckets(B.explode_bands(feats), cfg), cfg)
    scored = V.channel_scores(cands, feats, "img", cfg)
    assert scored.columns == [
        "clip_a", "clip_b", "jaccard", "hamming", "min_n", "lcs", "substr", "has_lcs",
    ]
    rows = scored.collect()
    assert any(r["jaccard"] >= cfg.txt_jaccard_threshold for r in rows)
    assert all(not r["has_lcs"] and r["lcs"] == 0 and not r["substr"] for r in rows)


def _member_features(features, kind: str, member: str):
    """features' ``kind`` fingerprints renamed to a candidate row's carried
    columns for pair member ``member``."""
    return features.filter(F.col("kind") == kind).select(
        F.col("clip_id").alias(f"clip_{member}"),
        F.col("simhash").alias(f"sim_{kind}_{member}"),
        F.col("n_shingles").alias(f"n_{kind}_{member}"),
    )


def test_prefilter_dropped_candidates_reach_the_decision(spark, candidates_xs, features_xs,
                                                         clips_xs, corpus_xs):
    """Every candidate reaches the classification, also one that no
    channel's prefilter keeps: a dropped channel enters as jaccard 0 and
    min_n 0, so with low_info_jaccard = 0 the pcm low-info rule confirms
    it, and it shows pcm_hamming 64.  The planted pairs join two unrelated
    solo clips; half carry their pcm fingerprints as banding writes them,
    half do not, and both halves come out alike."""
    from consult_spark.config import Config

    lay = corpus_xs["layout"]
    solo = sorted(lay[lay.group_kind == "solo"]["clip_id"])[:8]
    known = {(r["clip_a"], r["clip_b"]) for r in candidates_xs.select("clip_a", "clip_b").collect()}
    planted = [(a, b) for i, a in enumerate(solo) for b in solo[i + 1:] if (a, b) not in known]
    assert len(planted) >= 10
    rows = spark.createDataFrame(planted, "clip_a string, clip_b string")
    rows = rows.join(_member_features(features_xs, "pcm", "a"), "clip_a").join(
        _member_features(features_xs, "pcm", "b"), "clip_b")
    carried = F.col("clip_a") < F.lit(solo[3])
    planted_df = rows.select(
        "clip_a", "clip_b", F.lit(0).cast("bigint").alias("n_bands_pcm"),
        F.lit(0).cast("bigint").alias("n_bands_txt"),
        *(F.when(carried, F.col(c)).alias(c)
          for c in ("sim_pcm_a", "sim_pcm_b", "n_pcm_a", "n_pcm_b")),
    )
    cands = candidates_xs.unionByName(planted_df)

    got = {(r["clip_a"], r["clip_b"]): r
           for r in V.confirm_pairs(cands, features_xs, clips_xs,
                                    Config(low_info_jaccard=0.0)).collect()}
    assert set(got) == known | set(planted)
    dropped = [got[p] for p in planted if got[p]["pcm_hamming"] == 64]
    assert len(dropped) >= len(planted) // 2
    for r in dropped:
        assert r["pcm_jaccard"] == 0.0 and r["is_dup"]
    # under the default low-info threshold none of them is a dup
    default = V.confirm_pairs(cands, features_xs, clips_xs, Config()).select("clip_a", "clip_b")
    assert not {(r["clip_a"], r["clip_b"]) for r in default.collect()} & set(planted)


def test_member_without_txt_features_scores_no_txt(spark, candidates_xs, features_xs, clips_xs,
                                                   oracle_xs, cfg):
    """A pair whose member has no txt feature row keeps its pcm scores, and
    its txt channel comes out as not scored: txt_jaccard 0, txt_hamming 64,
    lcs 0, substr false."""
    pair, exp = next(
        (p, e) for p, e in sorted(oracle_xs.confirmed.items())
        if e["pcm_jaccard"] >= cfg.jaccard_threshold and e["txt_jaccard"] > 0
    )
    a, b = pair
    cands = candidates_xs.filter((F.col("clip_a") == a) & (F.col("clip_b") == b))
    feats = features_xs.filter(~((F.col("kind") == "txt") & (F.col("clip_id") == b)))
    rows = V.confirm_pairs(cands, feats, clips_xs, cfg).collect()
    assert len(rows) == 1
    got = rows[0]
    assert abs(got["pcm_jaccard"] - exp["pcm_jaccard"]) < 1e-12
    assert got["pcm_hamming"] == exp["pcm_hamming"]
    assert (got["txt_jaccard"], got["txt_hamming"], got["lcs"], got["substr"]) == (
        0.0, 64, 0, False)


def test_confirm_pairs_sizes_each_side_with_one_count(spark, candidates_xs, features_xs,
                                                      clips_xs, cfg):
    """Building the self-join confirm_pairs plan sizes its side with ONE
    count of the features per kind, in one aggregation (each clip
    featurizes to one row per channel, so those counts size every fat
    projection and bound the transcripts): at most 2 Spark jobs under
    adaptive execution, where a count per projection took 6.  Jobs are
    counted by job group, so only this thread's work is seen."""
    sc = spark.sparkContext
    group = "confirm-pairs-plan"
    sc.setJobGroup(group, group)
    try:
        V.confirm_pairs(candidates_xs, features_xs, clips_xs, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_verify_side_routes_each_kind_by_its_own_count(features_xs, clips_xs, monkeypatch):
    """A fat projection is broadcast when its own kind's row count is within
    MAX_BROADCAST_FAT_ROWS, even when the whole features table (every kind)
    is above it; the transcripts follow the largest kind's count."""
    counts = {r["kind"]: r["count"] for r in features_xs.groupBy("kind").count().collect()}
    assert set(counts) == {"pcm", "txt"}

    def hinted(df) -> bool:
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    monkeypatch.setattr(V, "MAX_BROADCAST_FAT_ROWS", max(counts.values()))
    assert sum(counts.values()) > V.MAX_BROADCAST_FAT_ROWS
    side = V.verify_side(features_xs, clips_xs)
    assert hinted(side["pcm"].fat) and hinted(side["txt"].fat)
    assert hinted(side["txt"].transcripts)

    monkeypatch.setattr(V, "MAX_BROADCAST_FAT_ROWS", max(counts.values()) - 1)
    side = V.verify_side(features_xs, clips_xs)
    assert [hinted(side[k].fat) for k in ("pcm", "txt")] == [
        counts[k] < max(counts.values()) for k in ("pcm", "txt")]
    assert not hinted(side["txt"].transcripts)
