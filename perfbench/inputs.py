"""Seeded benchmark inputs and their planted truth.

Inputs are a pure function of (workload, seed, size).  They are generated
before the Spark session starts, with plain numpy/pandas, and cached under
``.perfbench_cache/`` in the checkout, so two commits measured with the same
seed read byte-identical files.  The program under test only ever sees the
parquet files written here; truth tables stay on the benchmark side.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

CACHE_DIR = ".perfbench_cache"
# bump when the generators below change, so stale caches are not reused
INPUT_VERSION = 3


def _cache_path(root: str, workload: str, seed: int, size: dict) -> str:
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return os.path.join(root, CACHE_DIR, f"v{INPUT_VERSION}-{workload}-{tag}-s{seed}")


def _cached(path: str, build) -> None:
    """Run ``build(tmp_dir)`` unless ``path`` exists, then move the result
    into place in one rename; if a concurrent run got there first, keep
    its copy."""
    if os.path.isdir(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.replace(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):
            raise


def _write_clips(layout: pd.DataFrame, seed: int, out_dir: str, n_files: int) -> None:
    """Synthesize clip bytes for ``layout`` (~4 ms a clip) and write them as
    ``n_files`` parquet files, one per slice in layout order."""
    from consult_spark import datagen

    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(layout, n_files)):
        datagen.synthesize_rows(part, seed).to_parquet(
            os.path.join(out_dir, f"part-{i:04d}.parquet"), index=False)


def _planted_pairs(layout: pd.DataFrame) -> set[tuple[str, str]]:
    from consult_spark import datagen

    tp = datagen.truth_tables(layout)["truth_pairs"]
    return set(zip(tp["clip_a"], tp["clip_b"]))


# ---------------------------------------------------------------- dedup_batch

def dedup_batch(root: str, seed: int, n_clips: int) -> dict:
    """A ``datagen`` corpus (default ~0.5 % hot clique) and its planted
    pairs.  Truth comes from ``corpus_layout`` + ``truth_tables``."""
    from consult_spark import datagen

    path = _cache_path(root, "dedup_batch", seed, {"n": n_clips})
    layout = datagen.corpus_layout(n_clips, seed)
    _cached(path, lambda tmp: _write_clips(layout, seed, os.path.join(tmp, "clips"), 8))
    return {
        "clips": os.path.join(path, "clips"),
        "clip_ids": set(layout["clip_id"]),
        "truth_pairs": _planted_pairs(layout),
    }


# --------------------------------------------------------------- probe_stream

def split_library(layout: pd.DataFrame, seed: int):
    """Split one corpus into a library and a query pool.

    Kept groups put their base (variant 0) in the library and their
    variants in the query pool: those queries should match their base.
    Held-out groups (a quarter of dup groups and solo clips) go
    to the query pool whole: nothing of theirs is in the library, so they
    should not match.  The hot clique stays in the library.  Ids come from
    one layout, so query ids never collide with library ids (the probe's
    ``dropDuplicates(["clip_id", "kind"])`` would otherwise drop a query).
    """
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0x9B0BE]))
    bases = layout.loc[layout["group_kind"] != "hot", "base_idx"].unique()
    held = set(bases[rng.random(len(bases)) < 0.25].tolist())
    is_hot = layout["group_kind"] == "hot"
    is_held = layout["base_idx"].isin(held) & ~is_hot
    in_lib = is_hot | (~is_held & (layout["variant_idx"] == 0))
    return layout[in_lib], layout[~in_lib], held


def probe_stream(root: str, seed: int, n_corpus: int, n_files: int, per_file: int,
                 n_warm: int) -> dict:
    """Library clips for ``build_index``, ``n_files`` query files of
    ``per_file`` clips each, mixing matching and held-out queries, and one
    file of ``n_warm`` other queries for the warm-up."""
    from consult_spark import datagen

    size = {"n": n_corpus, "f": n_files, "q": per_file, "w": n_warm}
    path = _cache_path(root, "probe_stream", seed, size)
    layout = datagen.corpus_layout(n_corpus, seed)
    lib, pool, held = split_library(layout, seed)
    n_q = n_files * per_file
    if len(pool) < n_q + n_warm:
        raise ValueError(f"query pool has {len(pool)} clips, {n_q + n_warm} requested")
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0x9E7]))
    picked = pool.iloc[np.sort(rng.choice(len(pool), n_q + n_warm, replace=False))]
    picked = picked.iloc[rng.permutation(n_q + n_warm)]
    queries, warm = picked.iloc[:n_q], picked.iloc[n_q:]

    def build(tmp: str) -> None:
        _write_clips(lib, seed, os.path.join(tmp, "library"), 8)
        _write_clips(queries, seed, os.path.join(tmp, "queries"), n_files)
        _write_clips(warm, seed, os.path.join(tmp, "warm_queries"), 1)

    _cached(path, build)
    # a kept group's variants match its base, the only member in the library
    base_of = {
        (r.base_idx): r.clip_id
        for r in lib.itertuples(index=False)
        if r.group_kind == "dup" and r.variant_idx == 0
    }
    truth = {
        (r.clip_id, base_of[r.base_idx])
        for r in queries.itertuples(index=False)
        if r.base_idx not in held and r.base_idx in base_of
    }
    return {
        "library": os.path.join(path, "library"),
        "queries": os.path.join(path, "queries"),
        "warm_queries": os.path.join(path, "warm_queries"),
        "query_ids": set(queries["clip_id"]),
        "truth_pairs": truth,
    }


# ------------------------------------------------------------------- text_ann

_SYLLABLES = [a + b for a in "bdfgklmnprstvz" for b in "aeiou"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"
EMB_DIM = 64
# the exact scorer mirrors ann.QUANT: integer-quantized components
QUANT = 1000


def _documents(seed: int, n_docs: int) -> tuple[pd.DataFrame, set]:
    """(doc_id, text, lang, source, n_chars) like testdata's documents.

    A quarter of base documents get 1-3 near-copies with ~3 % of words
    substituted, and some get an exact copy; every pair inside one group
    is planted truth.  A 3,000-word vocabulary keeps unrelated documents'
    5-character shingle sets far apart."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xD0C5]))
    vocab = sorted({
        "".join(rng.choice(_SYLLABLES, int(rng.integers(2, 5)))) for _ in range(4000)
    })[:3000]
    texts: list[str] = []
    groups: list[int] = []
    g = 0
    while len(texts) < n_docs:
        words = list(rng.choice(vocab, int(rng.integers(40, 90))))
        members = [" ".join(words)]
        if rng.random() < 0.25:
            for _ in range(int(rng.integers(1, 4))):
                w = list(words)
                for j in rng.choice(len(w), max(1, len(w) // 30), replace=False):
                    w[j] = rng.choice(vocab)
                members.append(" ".join(w))
        if rng.random() < 0.05:
            members.append(members[0])
        for t in members[: n_docs - len(texts)]:
            texts.append(t)
            groups.append(g)
        g += 1
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    groups = [groups[i] for i in order]
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    by_group: dict[int, list[int]] = {}
    for i, gi in enumerate(groups):
        by_group.setdefault(gi, []).append(i)
    truth = {
        (a, b)
        for ids in by_group.values()
        for x, a in enumerate(ids)
        for b in ids[x + 1:]
    }
    return docs, truth


def _embeddings(seed: int, n_vecs: int) -> pd.DataFrame:
    """(vec_id, embedding, label): clusters of 16 noisy copies of a random
    centre (cosine between members ~0.98: the near-duplicate regime), so approximate top-k has real
    neighbours to find."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xE3B]))
    n_centres = max(1, n_vecs // 16)
    centres = rng.standard_normal((n_centres, EMB_DIM))
    owner = rng.integers(0, n_centres, n_vecs)
    x = centres[owner] + 0.15 * rng.standard_normal((n_vecs, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(x),
        "label": (owner % 10).astype(np.int32),
    })


def exact_neighbours(emb: pd.DataFrame, k: int, threshold_micro: int):
    """Exact top-k (sim desc, id asc) and near-dup pairs, scored exactly as
    the ann operators score: floor(1e6 * dot / sqrt(na * nb)) over
    integer-quantized vectors.  float64 holds these integer dots exactly."""
    m = np.floor(np.stack(emb["embedding"].to_numpy()).astype(np.float64) * QUANT + 0.5)
    ids = emb["vec_id"].to_numpy()
    norms = (m * m).sum(axis=1)
    top: dict[int, set] = {}
    pairs = []
    for lo in range(0, len(ids), 512):
        hi = min(lo + 512, len(ids))
        dots = m[lo:hi] @ m.T
        with np.errstate(divide="ignore", invalid="ignore"):
            simf = np.floor(1_000_000.0 * dots / np.sqrt(norms[lo:hi, None] * norms[None, :]))
        sim = np.where(np.isfinite(simf), simf, 0.0).astype(np.int64)
        for bi in range(hi - lo):
            i = lo + bi
            row = sim[bi].copy()
            row[i] = np.iinfo(np.int64).min
            order = np.lexsort((ids, -row))[:k]
            top[int(ids[i])] = set(ids[order].tolist())
        keep = (sim >= threshold_micro) & (ids[lo:hi, None] < ids[None, :])
        ii, jj = np.nonzero(keep)
        pairs.extend(zip(ids[lo:hi][ii].tolist(), ids[jj].tolist(), sim[ii, jj].tolist()))
    return top, set(pairs)


def text_ann(root: str, seed: int, n_docs: int, n_vecs: int, k: int,
             threshold_micro: int) -> dict:
    """Documents with planted near-copies, and clustered embeddings with
    their exact neighbours (computed here, outside any timed region)."""
    size = {"d": n_docs, "v": n_vecs}
    path = _cache_path(root, "text_ann", seed, size)
    docs, truth = _documents(seed, n_docs)

    def build(tmp: str) -> None:
        emb = _embeddings(seed, n_vecs)
        # 8 files each: the scan, not one task, sets the read parallelism
        for name, table in (("documents", docs), ("embeddings", emb)):
            os.makedirs(os.path.join(tmp, name))
            for i, part in enumerate(np.array_split(table, 8)):
                part.to_parquet(os.path.join(tmp, name, f"part-{i}.parquet"), index=False)
        top, pairs = exact_neighbours(emb, k, threshold_micro)
        with open(os.path.join(tmp, "exact.json"), "w") as f:
            json.dump({"top": {str(a): sorted(b) for a, b in top.items()},
                       "pairs": sorted(pairs)}, f)

    _cached(path, build)
    with open(os.path.join(path, "exact.json")) as f:
        exact = json.load(f)
    return {
        "documents": os.path.join(path, "documents"),
        "embeddings": os.path.join(path, "embeddings"),
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "truth_pairs": truth,
        "exact_top": {int(a): set(b) for a, b in exact["top"].items()},
        "exact_pairs": {tuple(p) for p in exact["pairs"]},
    }
