"""featurize_from_parquet must be bit-identical to the JVM-scan featurize."""

from __future__ import annotations

from consult_spark.config import Config
from consult_spark.operators import shingle as SH


def test_parquet_source_matches_jvm_scan(spark, corpus_xs, cfg, tmp_path):
    path = str(tmp_path / "clips")
    spark.createDataFrame(corpus_xs["clips"]).repartition(5).write.parquet(path)
    # the default channels, and a txt-only config whose workers read no audio
    for c in (cfg, Config(channels=("txt",))):
        via_jvm = SH.featurize(spark.read.parquet(path), c)
        via_py = SH.featurize_from_parquet(spark, path, c)
        a = {(r["clip_id"], r["kind"]): (tuple(r["minhash"]), r["simhash"], tuple(r["shingles"]))
             for r in via_jvm.collect()}
        b = {(r["clip_id"], r["kind"]): (tuple(r["minhash"]), r["simhash"], tuple(r["shingles"]))
             for r in via_py.collect()}
        assert a == b, c.channels
        assert {kind for _, kind in a} == set(c.channels)
