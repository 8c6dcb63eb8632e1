"""IVF-flat ANN (fixed md5-derived anchors, nprobe probing).

The anchors are deterministic so the DuckDB oracle reconstructs the
assignment exactly (driver-gated `ann_ivf_topk`); these tests pin the
engine-side properties: catch probability in the dup regime, plan shape,
and the probe/library asymmetry."""

from __future__ import annotations

import numpy as np
import pytest

from consult_spark.operators import ann
from consult_spark.operators.ann import _signs_matrix
from consult_spark.plans.inspect import plan_properties


def _planted(target_cos: float, n: int = 2000, seed: int = 7):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    noise = rng.normal(size=(n, 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    alpha = np.sqrt(1 - target_cos**2) / target_cos
    w = v + alpha * noise
    w /= np.linalg.norm(w, axis=1, keepdims=True)
    return v, w


def test_ivf_catch_probability_dup_regime():
    """A true near-duplicate (the dedup regime) must land in the query's
    probed cells with high probability: measured 0.90 @ cos 0.90 and
    0.96 @ cos 0.95 with 32 cells / nprobe 4 — pin slightly below."""
    anchors = _signs_matrix(32, 1, 64, 0x1F5).astype(np.float64)
    for target, floor in ((0.90, 0.85), (0.95, 0.92), (0.99, 0.98)):
        v, w = _planted(target)
        dv = v @ anchors.T
        cb = np.argmax(w @ anchors.T, axis=1)
        top4 = np.argsort(-dv, axis=1, kind="stable")[:, :4]
        catch = np.mean([cb[i] in top4[i] for i in range(len(v))])
        assert catch >= floor, f"cos {target}: catch {catch:.3f} < {floor}"


def test_ivf_topk_plan_and_shape(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = ann.ivf_topk(emb)
    assert not plan_properties(df)["has_cartesian"]
    rows = df.collect()
    n_vec = emb.count()
    by_a: dict = {}
    for r in rows:
        assert 1 <= r["rank"] <= 3
        by_a.setdefault(r["vec_a"], []).append(r)
    # every vector gets up to k results, ranks contiguous from 1
    assert len(by_a) == n_vec
    for recs in by_a.values():
        assert sorted(x["rank"] for x in recs) == list(range(1, len(recs) + 1))


def test_ivf_assign_probe_ranks(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = ann.ivf_assign(emb, nprobe=4).collect()
    per_vec: dict = {}
    for r in a:
        per_vec.setdefault(r["vec_id"], set()).add((r["probe_rank"], r["cell"]))
    for cells in per_vec.values():
        ranks = sorted(r for r, _ in cells)
        assert ranks == [1, 2, 3, 4]
        assert len({c for _, c in cells}) == 4  # nprobe cells are distinct


def test_near_dup_auto_routes_by_size(spark, monkeypatch):
    """Below the row threshold: identical to the exact path. Above it: the
    LSH path, and _broadcast_matrix (the driver collect) must never run."""
    from consult_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = sorted(tuple(r) for r in ann.near_dup_pairs(emb).collect())
    assert sorted(tuple(r) for r in ann.near_dup_auto(emb).collect()) == exact

    def boom(*a, **k):
        raise AssertionError("brute-force collect above the routing threshold")

    monkeypatch.setattr(ann, "_broadcast_matrix", boom)
    routed = ann.near_dup_auto(emb, brute_max_rows=10)
    lsh = sorted(tuple(r) for r in ann.near_dup_pairs_lsh(emb).collect())
    assert sorted(tuple(r) for r in routed.collect()) == lsh


@pytest.mark.parametrize("path", ["cosine_topk", "near_dup_pairs", "ivf_topk", "lsh_bucketed_topk",
                                  "near_dup_pairs_lsh"])
def test_zero_norm_vector_scores_zero(spark, path):
    """A zero vector has norm 0, so every pair touching it divides 0 by 0.
    Every scorer must emit sim_micro 0 for it (Spark's non-ANSI NaN->bigint
    cast): the numpy scorers instead of numpy's undefined NaN->int64, the
    JVM scorer of near_dup_pairs_lsh instead of ANSI mode's DIVIDE_BY_ZERO.
    Two zero vectors share every bucket and cell, so each path scores at
    least one such pair."""
    rng = np.random.default_rng(3)
    vecs = [[0.0] * 64, [0.0] * 64] + rng.normal(size=(10, 64)).tolist()
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id bigint, embedding array<float>"
    )
    if path in ("near_dup_pairs", "near_dup_pairs_lsh"):
        df = getattr(ann, path)(emb, threshold_micro=0)
    else:
        df = getattr(ann, path)(emb)
    zero = [r for r in df.collect() if r["vec_a"] in (0, 1) or r["vec_b"] in (0, 1)]
    assert zero, "no scored pair touches a zero vector"
    assert {r["sim_micro"] for r in zero} == {0}


@pytest.mark.parametrize("path", ["cosine_topk", "near_dup_pairs", "near_dup_auto", "ivf_topk",
                                  "lsh_bucketed_topk", "near_dup_pairs_lsh"])
def test_empty_table_gives_no_rows(spark, path):
    """An empty embeddings table yields no rows on every path; the
    brute-force paths' driver collect must not fail on the empty matrix."""
    emb = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert getattr(ann, path)(emb).collect() == []
