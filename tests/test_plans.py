"""Plan-quality pins: column pruning, no cartesian joins, codegen coverage.

The 100 TB story depends on these properties; asserting them keeps a
refactor from silently regressing the plan (e.g. a featurize change that
starts dragging `bytes` past the decode stage)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from consult_spark.operators import bands as B
from consult_spark.operators import pairs as P
from consult_spark.operators import shingle as SH
from consult_spark.operators import textdedup, ann
from consult_spark.plans.inspect import plan_properties, read_schema_columns


@pytest.fixture(scope="module")
def clips_dir(spark, corpus_xs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "clips")
    spark.createDataFrame(corpus_xs["clips"]).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def clips_parquet(spark, clips_dir):
    return spark.read.parquet(clips_dir)


def test_featurize_prunes_scan_columns(clips_parquet, cfg):
    """The scan under featurize must read only the 4 needed columns —
    sr_hz/dur_ms never leave the parquet footer."""
    feats = SH.featurize(clips_parquet, cfg)
    cols = set(read_schema_columns(feats))
    assert cols == {"clip_id", "bytes", "codec", "transcript"}


def test_txt_only_featurize_never_reads_bytes(clips_parquet, cfg):
    from consult_spark.config import Config

    feats = SH.featurize(clips_parquet, Config(channels=("txt",)))
    cols = set(read_schema_columns(feats))
    assert "bytes" not in cols


def test_pair_generation_has_no_cartesian_or_python(spark, clips_parquet, cfg):
    feats = SH.featurize(clips_parquet, cfg)
    buckets = B.capped_buckets(B.explode_bands(feats), cfg)
    pairs = P.candidate_pairs(buckets, cfg)
    props = plan_properties(pairs)
    assert not props["has_cartesian"]
    # bucket-local pair expansion is pure JVM: exactly one Python stage
    # (featurize) in the whole plan — "(n) MapInPandas" detail entries
    import re

    assert len(re.findall(r"\(\d+\) MapInPandas", props["plan"])) == 1
    # the cap must compile to WindowGroupLimit (rank pushdown) with a
    # PARTIAL instance below the exchange — that map-side group limit is
    # the hot-bucket skew bound (a hot bucket crosses the shuffle as
    # <= map_partitions*cap rows, never M; bands.py module docstring)
    assert props["plan"].count("WindowGroupLimit") >= 2
    assert "Partial" in props["plan"]
    # ... and the cap chain pays ONE exchange before the pair-dedup
    # repartition: band rows -> bucket window -> groupBy(members) reuse the
    # same hash partitioning (rounds 1-4 paid a second full exchange+sort
    # for a hand-rolled salt phase the engine's partial limit supersedes)
    n_exchanges = props["plan"].count("(Exchange") + props["plan"].count(") Exchange")
    assert n_exchanges <= 2, props["plan"]


def test_textdedup_confirmed_no_cartesian(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    props = plan_properties(textdedup.confirmed_pairs(docs))
    assert not props["has_cartesian"]
    # fully JVM-side: no Python stage anywhere in the text pipeline
    assert "MapInPandas" not in props["plan"]


def test_ann_lsh_avoids_cross_join(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bucketed = plan_properties(ann.lsh_bucketed_topk(emb, n_planes=6))
    # the scale path must never produce a cartesian product
    assert not bucketed["has_cartesian"]


def test_near_dup_paths_have_no_cartesian(spark):
    """Both near-dup forms: exact (broadcast matmul) and LSH (banded
    buckets) — neither may plan a CartesianProduct/BroadcastNestedLoop."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert not plan_properties(ann.near_dup_pairs(emb))["has_cartesian"]
    assert not plan_properties(ann.near_dup_pairs_lsh(emb))["has_cartesian"]


def test_features_partition_pruning(spark, clips_parquet, cfg, tmp_path):
    """features written partitionBy(kind): a kind-filtered read must prune
    at the PARTITION level (PartitionFilters in the scan), not just
    row-group skip."""
    from consult_spark.config import Config
    from consult_spark.io import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"), Config())
    wh.write(SH.featurize(clips_parquet, cfg), "features", partition_by=("kind",))
    scan = wh.read("features").filter(F.col("kind") == "pcm")
    plan = scan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan).group(1)
    assert "kind" in pf and pf.strip() != ""
    assert scan.count() == clips_parquet.count()  # one row per clip for pcm


def test_near_dup_lsh_matches_exact_on_collisions(spark):
    """Every LSH-path pair must appear in the exact path's output with the
    identical sim_micro (the LSH path is a candidate-restriction, never a
    score change)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.vec_a, r.vec_b): r.sim_micro for r in ann.near_dup_pairs(emb).collect()}
    lsh = {(r.vec_a, r.vec_b): r.sim_micro for r in ann.near_dup_pairs_lsh(emb).collect()}
    assert lsh  # non-vacuous
    for pair, sim in lsh.items():
        assert exact[pair] == sim


def test_simhash64_band_pairs_plan(spark):
    """The production-width SimHash dedup must stay bucket-joined: no
    cartesian, exactly one Python stage (the fingerprint UDF — referenced
    once per join side but the same MapInPandas subtree)."""
    from consult_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    props = plan_properties(T.simhash64_band_pairs(docs))
    assert not props["has_cartesian"]


def test_near_dup_auto_is_lsh_above_threshold(spark):
    """Above the routing threshold the shipped near-dup plan must contain no
    broadcast of a driver-collected matrix (no cartesian either)."""
    from consult_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    props = plan_properties(ann.near_dup_auto(emb, brute_max_rows=1))
    assert not props["has_cartesian"]


def test_merge_clusters_never_shuffles_the_assignment(spark, tmp_path):
    """Incremental CC at 10^12 rows lives or dies on this: the existing
    assignment table must only ever be SCANNED — every join against it is
    a broadcast of a delta-sized side (the semi for present ids, the two
    contraction label lookups, the final relabel).  A SortMergeJoin or
    ShuffledHashJoin anywhere means the fold went O(history)."""
    from consult_spark.config import Config
    from consult_spark.operators.cluster import merge_clusters

    path = str(tmp_path / "assign")
    spark.createDataFrame(
        [(f"c{i:04d}", f"c{i // 3 * 3:04d}") for i in range(300)],
        "clip_id string, cluster_id string",
    ).write.parquet(path)
    assignments = spark.read.parquet(path)
    new_pairs = spark.createDataFrame(
        [("c0001", "x9000"), ("c0100", "c0200")], "clip_a string, clip_b string"
    )
    merged = merge_clusters(assignments, new_pairs, Config())
    props = plan_properties(merged)
    assert not props["has_cartesian"]
    assert not props["has_sort_merge_join"]
    assert not props["has_shuffled_hash_join"]
    # and the result is still right: x9000 joins c0001's cluster
    got = {r["clip_id"]: r["cluster_id"] for r in merged.collect()}
    assert got["x9000"] == got["c0001"] == "c0000"
    # c0100 lives in cluster c0099 (groups of 3), c0200 in c0198; the new
    # edge merges them under the min label
    assert got["c0200"] == got["c0100"] == "c0099"


def test_featurize_from_parquet_has_no_shuffle(spark, clips_dir, cfg):
    """The file source is built in the JVM with one partition per parquet
    file, so no Exchange sits between the path rows and the featurize
    MapInPandas, and no Python RDD (an ExistingRDD scan) converts the path
    rows in every task before it."""
    import glob
    import os

    plan = plan_properties(SH.featurize_from_parquet(spark, clips_dir, cfg))["plan"]
    tree = plan.split("\n\n")[0]
    assert "MapInPandas" in tree and "Exchange" not in tree, tree
    assert "ExistingRDD" not in tree, tree
    assert len(glob.glob(os.path.join(clips_dir, "*.parquet"))) > 1


def _python_nodes_and_joins_above(plan: str) -> tuple[int, list[str]]:
    """(Python map nodes in the plan tree, the tree lines above the first
    one that name a join)."""
    import re

    tree = plan.split("\n\n")[0].splitlines()
    python = [i for i, line in enumerate(tree) if re.search(r"MapIn(Pandas|Arrow)", line)]
    above = tree[:python[0]] if python else tree
    return len(python), [line for line in above if "Join" in line]


def test_verify_is_one_python_pass(spark, clips_parquet, cfg, tmp_path):
    """confirm_pairs (self-join, pcm + txt) and the media job's verify
    (img + vid) each score every channel in ONE Python pass over the
    candidates, and join no score table back onto them: with the features
    and candidates read from parquet, the plan has one Python map node and
    no join above it."""
    import os

    from consult_spark.operators import multimodal as MM
    from consult_spark.operators import verify as V
    from jobs.dedup_media import media_confirmed_pairs

    def stored(df, name):
        df.write.parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    feats = stored(SH.featurize(clips_parquet, cfg), "features")
    cands = stored(P.candidate_pairs(B.capped_buckets(B.explode_bands(feats), cfg), cfg),
                   "candidates")
    confirm = plan_properties(V.confirm_pairs(cands, feats, clips_parquet, cfg))["plan"]
    assert _python_nodes_and_joins_above(confirm) == (1, []), confirm

    fixtures = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    images = spark.read.parquet(os.path.join(fixtures, "media_images.parquet"))
    videos = spark.read.parquet(os.path.join(fixtures, "media_videos.parquet"))
    mfeats = stored(MM.featurize_images(images, cfg).unionByName(
        MM.featurize_videos(videos, cfg)), "media_features")
    mcands = stored(P.candidate_pairs(B.capped_buckets(B.explode_bands(mfeats), cfg), cfg),
                    "media_candidates")
    media = plan_properties(media_confirmed_pairs(mcands, mfeats, ["img", "vid"], cfg))["plan"]
    assert _python_nodes_and_joins_above(media) == (1, []), media
