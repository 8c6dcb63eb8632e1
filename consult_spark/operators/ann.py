"""Similarity search over an embedding column (array<float>).

Three rungs of the scale ladder:

  brute force     — cosine_topk (exact top-k, the baseline) and
                    near_dup_pairs (exact threshold pairs) broadcast the
                    quantized matrix and score each Arrow batch against it
                    (_brute_force); guarded by MAX_BROADCAST_VECTORS.
  hyperplane LSH  — random-hyperplane signs bucket vectors
                    (SimHash-for-cosine): lsh_bucketed_topk ranks within
                    its one bucket, near_dup_pairs_lsh takes any collision
                    of L x K bands and re-scores it JVM-side.  The same
                    band/bucket/cap algebra as the main pipeline, applied
                    to embeddings.
  IVF cells       — ivf_topk: a query probes its nprobe nearest fixed
                    anchors' cells; every library vector sits in one cell.

near_dup_auto routes between the exact and the LSH near-dup paths by size.
Every numpy scorer shares one core: _vectors (a frame's ids, int64 matrix
and norms), _score (row-blocked exact similarity) and _topk (the vectorized
(sim desc, vec_b asc) ranking).

Determinism across engines: components are quantized to integers
(floor(v * 1000 + 0.5)) so dot products and norms are EXACT integer math in
both Spark and DuckDB; only the final floor(1e6 * dot / sqrt(na * nb)) takes
one deterministic IEEE-double step.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1000


def quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, q array<bigint>, norm_q bigint): integer-quantized vectors."""
    q = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * QUANT + F.lit(0.5)).cast("bigint"),
    )
    out = emb.select("vec_id", q.alias("q"))
    norm = F.aggregate(
        F.zip_with(F.col("q"), F.col("q"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return out.withColumn("norm_q", norm)


def _sim_micro() -> F.Column:
    """The JVM twin of _score's similarity step (near_dup_pairs_lsh); a pair
    touching a zero-norm vector scores 0, as in _score — ANSI mode would
    raise DIVIDE_BY_ZERO on the division."""
    dot = F.aggregate(
        F.zip_with(F.col("q_a"), F.col("q_b"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    nn = F.col("na") * F.col("nb")
    return F.when(nn == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor(1_000_000.0 * dot / F.sqrt(nn.cast("double"))).cast("bigint")
    )


MAX_BROADCAST_VECTORS = 2_000_000  # ~1 GB of int64 64-dim vectors
BLOCK_ROWS = 256  # rows of a per _score similarity block


def _vectors(pdf):
    """(ids, m, norms) of a pandas frame of quantized vectors: vec_id, the
    int64 (n, dim) matrix of q and its exact int64 squared norms (equal to
    norm_q, so callers need to ship only vec_id and q).  An empty frame
    (an empty table's broadcast matrix) gives a (0, 0) matrix."""
    import numpy as np

    q = pdf["q"].to_numpy()
    m = np.stack(q).astype(np.int64) if len(q) else np.zeros((0, 0), dtype=np.int64)
    return pdf["vec_id"].to_numpy(), m, np.einsum("ij,ij->i", m, m)


def _batches(batches):
    """(pdf, _vectors(pdf)) per non-empty Arrow batch of a mapInPandas input."""
    for pdf in batches:
        if len(pdf):
            yield pdf, _vectors(pdf)


def _score(a, b, emit) -> "pd.DataFrame":
    """Score every vector of ``a`` against every vector of ``b`` (each an
    (ids, m, norms) triple from _vectors) and concatenate ``emit(sim, a_ids,
    b_ids)`` over row blocks of a — the one similarity computation of every
    numpy scorer here.

    sim is int64 floor(1e6 * dot / sqrt(na * nb)) from exact int64 dot
    products and one deterministic double step.  A zero-norm vector gives
    0/0 = NaN; Spark's non-ANSI cast(NaN as bigint) is 0, so NaN maps to 0
    instead of numpy's undefined NaN->int64.  Blocks of BLOCK_ROWS rows keep
    the similarity block at O(BLOCK_ROWS * len(b)), not O(len(a) * len(b)):
    a hot bucket or cell grows it linearly, not quadratically."""
    import numpy as np
    import pandas as pd

    (a_ids, a_m, a_norms), (b_ids, b_m, b_norms) = a, b
    frames = []
    for lo in range(0, len(a_ids), BLOCK_ROWS):
        hi = lo + BLOCK_ROWS
        prod = (a_norms[lo:hi, None] * b_norms[None, :]).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            simf = np.floor(1_000_000.0 * (a_m[lo:hi] @ b_m.T) / np.sqrt(prod))
        sim = np.where(np.isfinite(simf), simf, 0.0).astype(np.int64)
        frames.append(emit(sim, a_ids[lo:hi], b_ids))
    return pd.concat(frames, ignore_index=True)


def _topk(sim, a_ids, b_ids, k: int) -> "pd.DataFrame":
    """Rank a sim block (rows a_ids, columns b_ids): per row, its k best
    columns other than the row's own id, by (sim desc, vec_b asc) — the
    row_number() order of the SQL oracles.  Returns (vec_a, vec_b,
    sim_micro, rank 1..k) in (row, rank) order.

    No per-row Python: np.partition finds each row's k-th best non-self
    sim, every non-self column at or above it is a candidate (so all ties
    at the k-th place survive), and one lexsort ranks every row's
    candidates at once."""
    import numpy as np
    import pandas as pd

    own = b_ids[None, :] == a_ids[:, None]
    if sim.size:
        masked = np.where(own, np.iinfo(np.int64).min, sim)
        kth = min(max(sim.shape[1] - k, 0), sim.shape[1] - 1)
        cut = np.partition(masked, kth, axis=1)[:, kth]
        ii, jj = np.nonzero((masked >= cut[:, None]) & ~own)
    else:
        ii = jj = np.zeros(0, dtype=np.int64)
    s, vb = sim[ii, jj], b_ids[jj]
    order = np.lexsort((vb, -s, ii))
    ii, vb, s = ii[order], vb[order], s[order]
    rank = np.arange(1, len(ii) + 1) - np.searchsorted(ii, ii)
    keep = rank <= k
    return pd.DataFrame(
        {"vec_a": a_ids[ii[keep]], "vec_b": vb[keep], "sim_micro": s[keep], "rank": rank[keep]}
    )


def _broadcast_matrix(emb: DataFrame):
    """Collect + broadcast the quantized matrix for the brute-force paths.

    Brute force inherently needs every vector against every other; the
    driver collect is the documented ceiling (MAX_BROADCAST_VECTORS) — at
    scale the default must be the LSH paths below, which never collect.
    Returns (qdf, broadcast of _vectors of the whole matrix)."""
    qdf = quantized(emb).select("vec_id", "q")
    full = qdf.toPandas()
    if len(full) > MAX_BROADCAST_VECTORS:
        raise ValueError(
            f"{len(full)} vectors exceed the brute-force broadcast bound; "
            "use lsh_bucketed_topk / near_dup_pairs_lsh"
        )
    return qdf, emb.sparkSession.sparkContext.broadcast(_vectors(full))


def _brute_force(emb: DataFrame, emit, schema: str) -> DataFrame:
    """The exact paths' driver: broadcast the whole quantized matrix and
    _score each Arrow batch against it — no CartesianProduct node, no
    O(n^2) shuffle."""
    qdf, bc = _broadcast_matrix(emb)

    def run(batches):
        for _, a in _batches(batches):
            yield _score(a, bc.value, emit)

    return qdf.mapInPandas(run, schema=schema)


def cosine_topk(emb: DataFrame, k: int = 3) -> DataFrame:
    """Exact brute-force top-k neighbors per vector (the baseline path).

    Implementation: broadcast the full quantized matrix (brute force
    inherently needs every vector on every task) and rank each block of a
    partition against it with int64 numpy matmuls and _topk — measured
    ~30x faster than the equivalent 25M-row zip_with/aggregate codegen plan
    at 5k vectors, with BIT-IDENTICAL results (integer dot products, one
    deterministic double division).  Guarded by MAX_BROADCAST_VECTORS;
    beyond that use lsh_bucketed_topk (the scale path).
    """
    return _brute_force(
        emb, partial(_topk, k=k),
        "vec_a bigint, vec_b bigint, sim_micro bigint, rank bigint",
    )


def near_dup_pairs(emb: DataFrame, threshold_micro: int = 400_000) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (canonical vec_a < vec_b).

    Blocked brute force, the same driver as cosine_topk: each task matmuls
    its blocks against the broadcast matrix and keeps the pairs at or above
    the threshold.  The O(n^2) COMPUTE is inherent to an exact threshold
    join over dense vectors (measured on the test corpus: qualifying sims
    sit right at the threshold — sf0.1 spans [400095, ~600000) with the
    densest non-qualifying pair at 399984 — so no bucketing scheme can be
    both exact and sub-quadratic here).  For the realistic near-dup regime
    (high-sim dups, huge n) use ``near_dup_pairs_lsh``, which never collects
    and whose candidate volume is bucket-bounded."""
    import numpy as np

    def pairs(sim, a_ids, b_ids):
        import pandas as pd

        ii, jj = np.nonzero((sim >= threshold_micro) & (a_ids[:, None] < b_ids[None, :]))
        return pd.DataFrame({"vec_a": a_ids[ii], "vec_b": b_ids[jj], "sim_micro": sim[ii, jj]})

    return _brute_force(emb, pairs, "vec_a bigint, vec_b bigint, sim_micro bigint")


def near_dup_auto(emb: DataFrame, threshold_micro: int = 400_000,
                  brute_max_rows: int = MAX_BROADCAST_VECTORS) -> DataFrame:
    """Size-routed near-duplicate pairs — the shipped default.

    Below ``brute_max_rows`` (one cheap count) this is the EXACT blocked
    matmul (near_dup_pairs, the small-n oracle path); above it, the
    bucket-bounded banded-LSH path (near_dup_pairs_lsh) that never collects
    — so at corpus scale the operator degrades to the scale path instead of
    throwing at the broadcast guard.  The same dual-strategy contract as
    cluster.connected_components' cc_driver_max_edges routing."""
    n = emb.count()
    if n <= brute_max_rows:
        return near_dup_pairs(emb, threshold_micro)
    return near_dup_pairs_lsh(emb, threshold_micro)


def _sign_buckets(m, signs, planes: int):
    """(n, n_bands) int64 bucket ids of the int64 vectors m: per band, the
    sign pattern of its ``planes`` rows of ``signs`` (band-major, as
    _signs_matrix lays them out), sum over p of 2^p where dot(q, h_p) > 0.
    One int64 matmul for all bands — exact integer math."""
    import numpy as np

    bits = (m @ signs.T > 0).reshape(len(m), -1, planes)
    return (bits * (np.int64(1) << np.arange(planes, dtype=np.int64))).sum(axis=2)


def hyperplane_buckets(emb: DataFrame, n_planes: int = 12, seed: int = 0xC05, dim: int = 64) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (sign pattern of n_planes
    pseudo-random projections) — SimHash-for-cosine.

    bucket = sum over planes p of (1<<p if dot(q, h_p) > 0): _sign_buckets
    with one band (hyperplane_band_buckets runs it with L bands), one int64
    numpy matmul per Arrow batch."""
    signs = _signs_matrix(1, n_planes, dim, seed, banded=False)

    def run(batches):
        import pandas as pd

        for pdf, (_, m, _) in _batches(batches):
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "q": pdf["q"],
                    "norm_q": pdf["norm_q"],
                    "bucket": _sign_buckets(m, signs, n_planes)[:, 0],
                }
            )

    return quantized(emb).mapInPandas(
        run, schema="vec_id bigint, q array<bigint>, norm_q bigint, bucket bigint"
    )


def _signs_matrix(n_bands: int, k: int, dim: int, seed: int, banded: bool = True):
    """(n_bands * k, dim) ±1 hyperplane matrix from md5 bits (no RNG state),
    computed once driver-side and embedded as a literal in the plan: row
    t * k + p, component i is +1 iff the first md5 byte of its key is
    >= 128.  The key is f"{seed}:{t}:{p}:{i}" when banded, else
    f"{seed}:{p}:{i}" (plain planes, n_bands = 1) — engine-portable: the
    DuckDB oracles rebuild both layouts in SQL, so neither may change."""
    import hashlib

    import numpy as np

    rows = [f"{seed}:{t}:{p}" if banded else f"{seed}:{p}"
            for t in range(n_bands) for p in range(k)]
    m = np.array([[hashlib.md5(f"{r}:{i}".encode()).digest()[0] for i in range(dim)]
                  for r in rows])
    return np.where(m >= 128, 1, -1).astype(np.int64)


def hyperplane_band_buckets(emb: DataFrame, n_bands: int = 16, planes_per_band: int = 8,
                            seed: int = 0xA9B, dim: int = 64) -> DataFrame:
    """L x K banded hyperplane LSH (the OR-amplification form): per vector,
    one bucket id per band t = sign pattern of that band's K planes.

    Same L x K algebra as the main pipeline's MinHash banding (and CONSULT's
    L bit-sampled tables, main_map.cpp:385-486): a pair is a candidate if it
    collides in ANY band, P(catch) = 1 - (1 - p^K)^L with p = 1 - theta/pi.
    The 128 projections run as ONE int64 numpy matmul per Arrow batch — the
    signs matrix is a tiny plan-embedded literal, nothing is collected."""
    import numpy as np

    signs = _signs_matrix(n_bands, planes_per_band, dim, seed)

    def run(batches):
        import pandas as pd

        for _, (ids, m, _) in _batches(batches):
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int64), len(ids)),
                    "bucket": _sign_buckets(m, signs, planes_per_band).reshape(-1),
                }
            )

    return quantized(emb).select("vec_id", "q").mapInPandas(
        run, schema="vec_id bigint, band int, bucket bigint"
    )


def near_dup_pairs_lsh(emb: DataFrame, threshold_micro: int = 400_000,
                       n_bands: int = 16, planes_per_band: int = 8,
                       seed: int = 0xA9B) -> DataFrame:
    """Scale-path near-duplicate pairs: banded hyperplane LSH candidates,
    exact integer re-score within collisions — never collects, never goes
    quadratic; candidate volume is bounded by per-bucket occupancy
    (n / 2^K expected per band at random, L bands).

    Catch probability at the defaults (K=8, L=16): cosine 0.9 -> 0.996,
    cosine 0.95 -> 0.9999; at the exact path's 0.4 threshold it is ~0.33 by
    design — marginal pairs are the exact path's job (near_dup_pairs), dups
    are this path's job.  The DuckDB oracle reconstructs the identical
    md5-derived planes, so the driver gate checks this operator exactly
    (bucketing included), not just its recall."""
    b = hyperplane_band_buckets(emb, n_bands, planes_per_band, seed)
    left = b.withColumnsRenamed({"vec_id": "vec_a"})
    right = b.withColumnsRenamed({"vec_id": "vec_b"})
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    q = quantized(emb)
    scored = (
        cand.join(
            q.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("q_a"), F.col("norm_q").alias("na")),
            "vec_a",
        )
        .join(
            q.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("q_b"), F.col("norm_q").alias("nb")),
            "vec_b",
        )
        .withColumn("sim_micro", _sim_micro())
    )
    return scored.filter(F.col("sim_micro") >= threshold_micro).select(
        "vec_a", "vec_b", "sim_micro"
    )


def ivf_assign(emb: DataFrame, n_cells: int = 32, seed: int = 0x1F5, dim: int = 64,
               nprobe: int = 1) -> DataFrame:
    """IVF coarse quantizer with FIXED deterministic anchors: anchors are
    md5-derived ±1 vectors (the _signs_matrix construction, one anchor per
    'band'); a vector's cells are its nprobe highest-dot anchors.  No Lloyd
    refinement — fixed random anchors are the engine-portable stand-in for
    k-means centroids (the partition geometry is identical in kind: Voronoi
    cells of K directions), which lets the DuckDB oracle reconstruct the
    assignment exactly instead of trusting a black-box clustering.
    Ties break toward the smallest anchor index (stable argsort).
    Returns (vec_id, cell, probe_rank 1..nprobe)."""
    import numpy as np

    anchors = _signs_matrix(n_cells, 1, dim, seed)  # (n_cells, dim)

    def run(batches):
        import pandas as pd

        for _, (ids, m, _) in _batches(batches):
            top = np.argsort(-(m @ anchors.T), axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, nprobe),
                    "cell": top.reshape(-1).astype(np.int64),
                    "probe_rank": np.tile(np.arange(1, nprobe + 1, dtype=np.int64), len(ids)),
                }
            )

    return quantized(emb).select("vec_id", "q").mapInPandas(
        run, schema="vec_id bigint, cell bigint, probe_rank bigint"
    )


def ivf_topk(emb: DataFrame, k: int = 3, n_cells: int = 32, seed: int = 0x1F5,
             nprobe: int = 4) -> DataFrame:
    """IVF-flat approximate top-k: the query side probes its nprobe nearest
    cells, the library side is indexed in its single nearest cell, exact
    integer scoring within collisions.  Third point on the scale ladder:
    brute (cosine_topk) / hyperplane-LSH (lsh_bucketed_topk) / IVF cells —
    expected candidate volume nprobe * n / n_cells per query, no collect,
    no cartesian.

    Catch probability for a true neighbor (measured, 32 cells / 64 dims,
    nprobe=4): cosine 0.90 -> 0.90, 0.95 -> 0.96, 0.99 -> 0.997 (pinned by
    test_ann_ivf).  On structureless uniform vectors any partition-based
    ANN has low recall by construction — the exact baseline is cosine_topk."""
    probe = ivf_assign(emb, n_cells=n_cells, seed=seed, nprobe=nprobe)
    # one frame per (cell, member): probe_rank==1 rows double as the cell's
    # library entries.  Each cell group ranks its probes against its library
    # with _topk (cell-local top-k).  Every library vector is in exactly one
    # cell, so a query's candidate sets in its nprobe cells are disjoint and
    # its global top-k is among the cell-local ones: the window below picks
    # it from at most nprobe * k rows per query.
    side = probe.join(quantized(emb), "vec_id").select(
        "cell", "vec_id", "q", (F.col("probe_rank") == 1).alias("is_lib")
    )

    def cell_topk(pdf):
        ids, m, norms = _vectors(pdf)
        lib = pdf["is_lib"].to_numpy()
        ranked = _score(
            (ids, m, norms), (ids[lib], m[lib], norms[lib]),
            partial(_topk, k=k),
        )
        return ranked.drop(columns="rank")

    scores = side.groupBy("cell").applyInPandas(
        cell_topk, schema="vec_a bigint, vec_b bigint, sim_micro bigint"
    )
    w = Window.partitionBy("vec_a").orderBy(F.col("sim_micro").desc(), F.col("vec_b").asc())
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("vec_a", "vec_b", "sim_micro", "rank")
    )


def lsh_bucketed_topk(emb: DataFrame, k: int = 3, n_planes: int = 12) -> DataFrame:
    """Approximate top-k: exact scoring restricted to same-bucket candidates.
    At 10^12 rows this replaces the O(n^2) cross join with per-bucket work
    (bucket sizes ~ n / 2^n_planes; tune n_planes to data size).

    Every vector has exactly ONE bucket in this single-plane-set scheme, so
    its entire candidate set lives in its bucket and the global
    row_number(sim desc, vec_b asc) <= k is a BUCKET-LOCAL top-k: one
    groupBy(bucket), and per group the blocked numpy scoring (_score) ranked
    by _topk — bit-identical to the SQL window (exact int64 dots, same
    multiply-divide-floor double step, same (sim desc, id asc) tie-break)."""

    def topk(pdf):
        v = _vectors(pdf)
        return _score(v, v, partial(_topk, k=k))

    return hyperplane_buckets(emb, n_planes=n_planes).groupBy("bucket").applyInPandas(
        topk, schema="vec_a bigint, vec_b bigint, sim_micro bigint, rank bigint"
    )
