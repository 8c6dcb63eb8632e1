"""The probe's two routes (probing.prepare_library) write the same epoch.

Below verify.MAX_PROBE_INDEX_ROWS a batch is one mapInPandas pass over the
broadcast LibraryIndex; above it, the SQL plan (pairs.probe_candidates +
verify.confirm_pairs).  Both implement the same semantics (rollup, caps,
prefilter, scores, decision), so on every probe input with an edge of its
own the two must write identical matched_clips and unmatched_clips rows
and the same metrics row (all but wall_sec).  The SQL route is forced by
monkeypatching the bound below the library."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from consult_spark.config import Config
from consult_spark.datagen import CLIPS_SCHEMA
from consult_spark.io import open_warehouse
from consult_spark.operators import verify
from consult_spark.probing import prepare_library
from consult_spark.streaming.probe import init_probe_sinks, make_probe_batch_writer
from jobs.build_index import build_index

SINKS = ("matched_clips", "unmatched_clips", "probe_metrics")


@pytest.fixture(scope="module")
def split(corpus_xs):
    """(library, queries, layout): library = base clips + hot clique."""
    lay, clips = corpus_xs["layout"], corpus_xs["clips"]
    lib_ids = set(lay[(lay.variant_idx == 0) | (lay.group_kind == "hot")]["clip_id"])
    return (clips[clips.clip_id.isin(lib_ids)].reset_index(drop=True),
            clips[~clips.clip_id.isin(lib_ids)].reset_index(drop=True), lay)


@pytest.fixture(scope="module")
def indexes(spark, split, tmp_path_factory):
    """Index name -> warehouse dir, each built on first use."""
    lib, _, _ = split
    root = tmp_path_factory.mktemp("route_indexes")
    built: dict[str, str] = {}

    def get(name: str) -> str:
        if name in built:
            return built[name]
        wh_dir = str(root / name)
        if name == "stripped":
            # a bucket table written before the denormalized fingerprints
            shutil.copytree(get("default"), wh_dir)
            buckets = os.path.join(wh_dir, "lsh_buckets")
            spark.read.parquet(buckets).drop("simhash", "n_shingles").write.parquet(
                buckets + "_stripped")
            shutil.rmtree(buckets)
            os.rename(buckets + "_stripped", buckets)
        elif name == "pcm_only":
            build_index(spark, spark.createDataFrame(lib.drop(columns="transcript")), wh_dir,
                        cfg=Config(channels=("pcm",)))
        else:
            cfg = Config(bucket_cap=48) if name == "cap48" else Config()
            build_index(spark, spark.createDataFrame(lib), wh_dir, cfg=cfg)
        built[name] = wh_dir
        return wh_dir

    return get


def _variant_of_base(qry: pd.DataFrame, lay: pd.DataFrame, k: int = 0) -> tuple[int, str]:
    """(row in qry, base clip id) of the k-th dup variant whose base is in
    the library."""
    dup = lay[lay.group_kind == "dup"]
    bases = dup[dup.variant_idx == 0].set_index("base_idx")["clip_id"]
    variants = dup[(dup.variant_idx > 0) & dup.clip_id.isin(qry.clip_id)]
    v = variants.iloc[k]
    return int(qry.index[qry.clip_id == v.clip_id][0]), bases[v.base_idx]


def _id_collision(qry, lay):
    """One query renamed to the id of its own base (the pair it would
    confirm is the skipped (id, id) pair) and one to a hot-clique id."""
    q = qry.copy()
    row, base = _variant_of_base(q, lay, 0)
    q.loc[row, "clip_id"] = base
    q.loc[_variant_of_base(q, lay, 1)[0], "clip_id"] = "hot_000000"
    return q


def _null_payload(qry, lay):
    q = qry.copy()
    q.loc[_variant_of_base(q, lay, 0)[0], "bytes"] = None
    return q


def _empty_transcript(qry, lay):
    q = qry.copy()
    q.loc[[_variant_of_base(q, lay, k)[0] for k in range(3)], "transcript"] = ""
    return q


CASES = {
    "hot_clique": ("default", lambda q, lay: q),
    "id_collision": ("default", _id_collision),
    "stripped_buckets": ("stripped", lambda q, lay: q),
    "pcm_only": ("pcm_only", lambda q, lay: q.drop(columns="transcript")),
    "bucket_cap_48": ("cap48", lambda q, lay: q),
    "null_payload": ("default", _null_payload),
    "empty_transcript": ("default", _empty_transcript),
    "empty_batch": ("default", lambda q, lay: q.iloc[:0]),
}


def _epoch(spark, wh_dir: str, batch: pd.DataFrame, out_dir: str) -> dict:
    """Replay ``batch`` as epoch 0 of a fresh sink set -> every sink's
    partitions and rows (metrics without wall_sec), plus the route taken."""
    wh = open_warehouse(spark, wh_dir)
    library = prepare_library(spark, wh.read("lsh_buckets"), wh.read("features"),
                              wh.read("transcripts") if wh.exists("transcripts") else None,
                              persist=True)
    schema = ", ".join(f for f in CLIPS_SCHEMA.split(", ") if f.split()[0] in batch.columns)
    try:
        init_probe_sinks(spark, out_dir)
        make_probe_batch_writer(spark, library, wh.cfg, out_dir)(
            spark.createDataFrame(batch, schema), 0)
    finally:
        library.release()
    out = {"index_route": library.index is not None}
    for table in SINKS:
        path = os.path.join(out_dir, table)
        df = spark.read.parquet(path)
        if table == "probe_metrics":
            df = df.drop("wall_sec")
        out[table] = (sorted(os.listdir(path)), sorted(tuple(r) for r in df.collect()))
    return out


@pytest.mark.parametrize("case", list(CASES))
def test_index_route_writes_what_the_sql_route_writes(spark, split, indexes, case, tmp_path,
                                                      monkeypatch):
    _, qry, lay = split
    index_name, make_batch = CASES[case]
    wh_dir = indexes(index_name)
    batch = make_batch(qry, lay)

    by_index = _epoch(spark, wh_dir, batch, str(tmp_path / "index"))
    with monkeypatch.context() as m:
        m.setattr(verify, "MAX_PROBE_INDEX_ROWS", -1)
        by_sql = _epoch(spark, wh_dir, batch, str(tmp_path / "sql"))

    assert by_index.pop("index_route") and not by_sql.pop("index_route")
    assert by_index == by_sql
    partitions, metrics = by_index["probe_metrics"]
    if case == "empty_batch":
        # no partition but the sentinel, and no metrics row
        assert all(by_index[t][0] == ["batch_id=-1"] for t in SINKS) and not metrics
    else:
        assert metrics and metrics[0][0] == len(batch)
        assert by_index["matched_clips"][1]
