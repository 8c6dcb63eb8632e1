"""The vectorized top-k kernel (ann._topk) against the per-row ranking loop
it replaced in cosine_topk and lsh_bucketed_topk: the same rows in the same
order — ties at the k-th place, self ids, groups smaller than k + 1 and
k larger than the library included."""

from __future__ import annotations

import numpy as np
import pytest

from consult_spark.operators.ann import _topk


def _reference_topk(sim, a_ids, b_ids, k):
    """The former per-row loop: rank by (sim desc, vec_b asc), skip self."""
    out = []
    for i in range(sim.shape[0]):
        row = sim[i]
        taken = 0
        for j in np.lexsort((b_ids, -row)):
            if b_ids[j] == a_ids[i]:
                continue
            taken += 1
            out.append((a_ids[i], b_ids[j], row[j], taken))
            if taken == k:
                break
    return out


def _rows(df):
    assert list(df.columns) == ["vec_a", "vec_b", "sim_micro", "rank"]
    assert all(str(t) == "int64" for t in df.dtypes)
    return [tuple(r) for r in df.itertuples(index=False)]


def _case(seed, n_a, n_b, levels, self_ids):
    """sim drawn from ``levels`` distinct values (few levels = many ties);
    b ids shuffled; with ``self_ids`` every a id is also a b id."""
    rng = np.random.default_rng(seed)
    b_ids = rng.permutation(np.arange(100, 100 + 3 * n_b, 3, dtype=np.int64))
    if self_ids:
        a_ids = rng.choice(b_ids, size=n_a, replace=False) if n_b else b_ids[:0]
    else:
        a_ids = np.arange(n_a, dtype=np.int64)
    sim = rng.integers(0, levels, size=(n_a, n_b)).astype(np.int64) * 1000 - 500
    return sim, a_ids, b_ids


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("levels", [2, 3, 1_000_000])
@pytest.mark.parametrize("self_ids", [True, False])
@pytest.mark.parametrize("k", [1, 3, 5])
def test_topk_matches_reference_loop(seed, levels, self_ids, k):
    sim, a_ids, b_ids = _case(seed, n_a=17, n_b=23, levels=levels, self_ids=self_ids)
    assert _rows(_topk(sim, a_ids, b_ids, k)) == _reference_topk(sim, a_ids, b_ids, k)


@pytest.mark.parametrize("n", [1, 2, 3, 4])
@pytest.mark.parametrize("k", [1, 3, 10])
def test_topk_small_groups_and_k_beyond_n(n, k):
    """A bucket or cell with fewer than k + 1 members: every other member is
    returned, ranks 1..n-1; a lone member returns nothing."""
    sim, a_ids, b_ids = _case(7, n_a=n, n_b=n, levels=2, self_ids=True)
    got = _rows(_topk(sim, a_ids, b_ids, k))
    assert got == _reference_topk(sim, a_ids, b_ids, k)
    assert len(got) == n * min(k, n - 1)


def test_topk_tie_at_kth_place_keeps_smallest_ids():
    """Every column ties: the k smallest non-self ids win, in id order."""
    b_ids = np.array([9, 4, 7, 1, 5], dtype=np.int64)
    a_ids = np.array([4, 8], dtype=np.int64)
    sim = np.full((2, 5), 250_000, dtype=np.int64)
    got = _rows(_topk(sim, a_ids, b_ids, 2))
    assert got == [(4, 1, 250_000, 1), (4, 5, 250_000, 2),
                   (8, 1, 250_000, 1), (8, 4, 250_000, 2)]
    assert got == _reference_topk(sim, a_ids, b_ids, 2)


def test_topk_empty_library():
    sim = np.zeros((3, 0), dtype=np.int64)
    got = _topk(sim, np.arange(3, dtype=np.int64), np.zeros(0, dtype=np.int64), 3)
    assert _rows(got) == []
