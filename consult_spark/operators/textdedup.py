"""Text near-duplicate pipeline over a generic documents table
(doc_id, text) — the SQL-expressible twin of the main audio pipeline, built
ONLY from engine-portable expressions (md5, substring, min, window, join) so
every stage has an exact DuckDB oracle for the driver's correctness gate.

Stage map to the reference (same ids as SURVEY §2):
  doc_shingles          S5  sliding-window shingle enumeration
  minimizer_thin        B4  per-window lexicographic minimizer (minimization.cpp:158-171)
  exact_dup_groups      B5  dedup of identical payloads
  minhash_bands         B7/B8  L x K signatures -> bucket keys
  capped_buckets        B9  capacity-capped grouped insert (main_map.cpp:592-623)
  bucket_histogram      B16 occupancy histogram (main_map.cpp:1170-1197)
  candidate_pairs       S6  bucket probe as self-join
  pair_jaccard          S9  exact verification re-score
  confirmed_pairs       S11 c-threshold classification
  unique_docs           S13 anti-join output (ucseq_ analog)

Determinism-over-floats rule: every fractional quantity is emitted as
``floor(1e6 * x)`` (a *_micro BIGINT) so Spark and DuckDB hash identically —
float formatting never touches the comparison.

MinHash here uses md5-lexicographic minima (portable across engines); the
main engine uses the faster xxhash64/splitmix64 kernels — the algebra
(min over per-seed hashes, banding, cap, threshold) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SHINGLE_K = 5
N_SEEDS = 8
ROWS_PER_BAND = 2
N_BANDS = N_SEEDS // ROWS_PER_BAND
BUCKET_CAP = 8
JACCARD_MICRO_THRESHOLD = 500_000  # 0.5
MINIMIZER_W = 4


def _windows(k: int) -> F.Column:
    """All width-k character windows of text as one row-local array."""
    return F.expr(f"transform(sequence(1, length(text) - {k - 1}), i -> substring(text, i, {k}))")


def _spread(docs: DataFrame) -> DataFrame:
    """Hash-repartition the (tiny) documents table across the session's
    parallelism.  The row-local shingle/minhash chain below is shuffle-free,
    so it inherits the SCAN's partitioning — and a small documents parquet is
    one row group = one partition, which would serialize the whole chain on
    a single core.  One exchange of the raw docs (KB-scale) buys full-width
    execution of everything derived from it; the count is derived from the
    session (scale-adaptive), never a constant (guide §2.5: deterministic
    key, no rand)."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(n, "doc_id")


def doc_shingles(docs: DataFrame, k: int = SHINGLE_K, distinct: bool = True) -> DataFrame:
    """(doc_id, sh [, i]) — all width-k character windows of text.

    The distinct form explodes the ROW-LOCAL distinct window array instead of
    paying a corpus-wide (doc_id, sh) distinct shuffle — set semantics per
    doc are identical (distinct never crossed documents), the exchange is
    gone (guide §2.4)."""
    if distinct:
        return (
            _spread(docs).filter(F.length("text") >= k)
            .select("doc_id", F.explode(F.array_distinct(_windows(k))).alias("sh"))
        )
    return (
        docs.filter(F.length("text") >= k)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text") - (k - 1))).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            F.col("i").cast("bigint").alias("i"),
            F.expr(f"substring(text, i, {k})").alias("sh"),
        )
    )


def shingle_stats(docs: DataFrame) -> DataFrame:
    """Per doc: total windows + distinct shingles (S5 window-count check).

    Row-local: the window count is arithmetic on length(text) and the
    distinct count sizes the per-doc distinct window array — no explode, no
    exchange (the previous form shuffled ~500 rows per doc to count them)."""
    return _spread(docs).filter(F.length("text") >= SHINGLE_K).select(
        "doc_id",
        (F.length("text") - (SHINGLE_K - 1)).cast("bigint").alias("n_windows"),
        F.size(F.array_distinct(_windows(SHINGLE_K))).cast("bigint").alias("n_distinct"),
    )


def minimizer_thin(docs: DataFrame) -> DataFrame:
    """B4 analog: per window of MINIMIZER_W consecutive shingles keep the
    lexicographic minimum; report distinct minimizers per doc."""
    sh = doc_shingles(docs, distinct=False)
    w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, MINIMIZER_W - 1)
    n = Window.partitionBy("doc_id")
    full = (
        sh.withColumn("minimizer", F.min("sh").over(w))
        .withColumn("n_win", F.max("i").over(n))
        .filter(F.col("i") <= F.col("n_win") - (MINIMIZER_W - 1))
    )
    return full.groupBy("doc_id").agg(
        F.countDistinct("minimizer").alias("n_minimizers"),
        F.min("minimizer").alias("first_minimizer"),
    )


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """B5/exact dedup: md5(text) grouping; emit members of non-trivial groups
    with their canonical (min doc_id) representative."""
    hashed = docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    w = Window.partitionBy("h")
    return (
        hashed.withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .filter(F.col("group_size") > 1)
        .select("doc_id", "canonical_id", F.col("group_size").cast("bigint").alias("group_size"))
    )


def _minhash_wide(docs: DataFrame, sets: DataFrame | None = None) -> DataFrame:
    """(doc_id, m0..m{N_SEEDS-1}): per-seed md5-lexicographic minima, computed
    ENTIRELY row-local — each seed's minimum is array_min over the per-doc
    distinct shingle array, so the whole MinHash table costs zero exchanges
    (the previous form shuffled the multi-million-row exploded shingle table
    into a groupBy; guide §2.4).  Identical values: min over the same set of
    the same md5 strings."""
    s = sets if sets is not None else doc_shingle_sets(docs)

    def seed_min(r: int) -> F.Column:
        return F.array_min(
            F.transform(
                F.col("shs"),
                lambda sh: F.md5(F.concat_ws(":", F.lit(str(r)), sh).cast("binary")),
            )
        ).alias(f"m{r}")

    return s.select("doc_id", *[seed_min(r) for r in range(N_SEEDS)])


def minhash_bands(docs: DataFrame, sets: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, band_key): fold ROWS_PER_BAND seed-minima per band.

    Row-local like _minhash_wide: band b's key is md5 over the '|'-join of
    its seed minima in seed order (the same string the previous
    sort_array(collect_list(struct(r, minh))) aggregation produced), emitted
    with one explode — no groupBy, no exchange anywhere in the band table."""
    wide = _minhash_wide(docs, sets=sets)
    entries = [
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"m{r}") for r in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)],
                ).cast("binary")
            ).alias("band_key"),
        )
        for b in range(N_BANDS)
    ]
    return wide.select(
        "doc_id", F.explode(F.array(*entries)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key"))


def _cap(bands: DataFrame, cap: int) -> DataFrame:
    """Rank each (band, band_key) bucket's rows by doc_id as ``rn`` and keep
    rn <= cap — the capacity-capped insert of main_map.cpp:592-623."""
    w = Window.partitionBy("band", "band_key").orderBy("doc_id")
    return bands.withColumn("rn", F.row_number().over(w).cast("bigint")).filter(
        F.col("rn") <= cap
    )


def capped_buckets(docs: DataFrame, cap: int = BUCKET_CAP, sets: DataFrame | None = None) -> DataFrame:
    """B9: per-bucket rank by doc_id, keep <= cap (deterministic)."""
    return _cap(minhash_bands(docs, sets=sets), cap).select("doc_id", "band", "band_key", "rn")


def bucket_histogram(docs: DataFrame) -> DataFrame:
    """B16: bucket-size occupancy histogram per band."""
    bands = minhash_bands(docs)
    sizes = bands.groupBy("band", "band_key").agg(F.count("*").alias("bucket_size"))
    return sizes.groupBy("band", "bucket_size").agg(F.count("*").alias("n_buckets"))


def candidate_pairs(docs: DataFrame, sets: DataFrame | None = None) -> DataFrame:
    """S6: bucket-local pair expansion -> canonical pairs + co-bucketed band
    count.

    Same construction as the audio path (pairs.bucket_pairs): group each
    bucket once, expand member combinations with JVM higher-order functions.
    ONE pass over the capped bucket table instead of the previous self-join's
    two (the join referenced the whole minhash subtree from both sides), and
    the groupBy reuses the bucket window's partitioning, so the only
    exchanges are the bucket window and the final pair rollup."""
    b = capped_buckets(docs, sets=sets)
    grouped = b.groupBy("band", "band_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("members")
    )
    expand = (
        "flatten(transform(members, (x, i) -> "
        "transform(slice(members, i + 2, size(members)), y -> "
        "struct(x AS doc_a, y AS doc_b))))"
    )
    hits = (
        grouped.filter(F.size("members") >= 2)
        .select(F.explode(F.expr(expand)).alias("p"))
        .select("p.*")
    )
    return hits.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_bands"))


def doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shs array<string>): each doc's distinct shingle set as ONE
    array row — the same payload shape the audio verify uses.  Exact-verify
    joins then move 5k array rows instead of shuffling the multi-million-row
    exploded shingle table per pair side.

    Row-local (array_distinct over the window array): no explode, no
    distinct shuffle, no groupBy — the set never leaves its row."""
    return _spread(docs).filter(F.length("text") >= SHINGLE_K).select(
        "doc_id", F.array_distinct(_windows(SHINGLE_K)).alias("shs")
    )


def _jaccard_micro() -> F.Column:
    """floor(1e6 * |A & B| / |A | B|) of the shingle-set columns sh_a, sh_b."""
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return F.floor(
        1_000_000.0 * n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter)
    ).cast("bigint")


def pair_jaccard(docs: DataFrame) -> DataFrame:
    """S9: exact Jaccard re-score of candidates -> jaccard_micro BIGINT.

    No checkpoints: with the row-local shingle/minhash chain the shared
    ``sets`` subtree costs one narrow pass per reference, and A/B timing at
    sf0.1/32c showed every localCheckpoint variant SLOWER (the materialize
    barrier + block write/read outweighs recompute: confirmed_pairs 2.8 s
    checkpointed vs 1.9 s recomputed; the round-2 3x-recompute regression
    the checkpoints originally fixed was recompute of the exploded-shingle
    SHUFFLE chain, which no longer exists)."""
    sets = doc_shingle_sets(docs)
    cand = candidate_pairs(docs, sets=sets)
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "n_bands", _jaccard_micro().alias("jaccard_micro"))
    )


def confirmed_pairs(docs: DataFrame) -> DataFrame:
    """S11: threshold classification."""
    return pair_jaccard(docs).filter(F.col("jaccard_micro") >= JACCARD_MICRO_THRESHOLD)


def probe_matched(docs: DataFrame, threshold: int = JACCARD_MICRO_THRESHOLD) -> DataFrame:
    """CONSULT's actual flagship shape — query-vs-library probe
    (main_search.cpp:810-894) in its SQL-expressible text form: docs with
    doc_id % 5 == 0 are the query set, the rest are the library; query band
    rows probe the CAPPED library buckets (the query side is never capped —
    every query must be answered), survivors are exactly re-scored and
    classified by the Jaccard threshold.  Output = the matched_clips analog
    (query_id, lib_id, n_bands, jaccard_micro).

    No checkpoints (same A/B as pair_jaccard: at sf0.1/32c the
    checkpoint-free shape runs ~1.9 s vs ~4.5 s with the band table
    checkpointed — the row-local minhash chain recomputes for the two
    band references cheaper than the materialize barrier costs)."""
    sets = doc_shingle_sets(docs)
    bands = minhash_bands(docs, sets=sets)
    qb = bands.filter(F.col("doc_id") % 5 == 0).withColumnsRenamed({"doc_id": "query_id"})
    libcap = (
        _cap(bands.filter(F.col("doc_id") % 5 != 0), BUCKET_CAP)
        .withColumnsRenamed({"doc_id": "lib_id"})
        .drop("rn")
    )
    hits = qb.join(libcap, ["band", "band_key"])
    cand = hits.groupBy("query_id", "lib_id").agg(F.count("*").alias("n_bands"))
    a = sets.select(F.col("doc_id").alias("query_id"), F.col("shs").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("lib_id"), F.col("shs").alias("sh_b"))
    return (
        cand.join(a, "query_id")
        .join(b, "lib_id")
        .withColumn("jaccard_micro", _jaccard_micro())
        .filter(F.col("jaccard_micro") >= threshold)
        .select("query_id", "lib_id", "n_bands", "jaccard_micro")
    )


def _pad(c: str) -> F.Column:
    """Zero-padded string id, so the connected-components min label
    (lexical on strings) agrees with the numeric min the oracle computes."""
    return F.lpad(F.col(c).cast("string"), 20, "0")


def doc_clusters(docs: DataFrame, confirmed: DataFrame | None = None) -> DataFrame:
    """Transitive near-duplicate clustering over the text channel: the
    engine's distributed connected components (cluster.py pointer jumping)
    on confirmed pairs, verified against a recursive-CTE transitive-closure
    oracle in DuckDB — the one stage of the core pipeline that previously
    had no SQL twin of its own.  cluster_id = min doc_id in the component;
    singletons label themselves.

    ``confirmed``: an already-computed :func:`confirmed_pairs` table (e.g.
    the one a job wrote); derived from ``docs`` when omitted."""
    from ..config import Config
    from .cluster import assign_clusters

    conf = confirmed if confirmed is not None else confirmed_pairs(docs)
    clips_like = docs.select(_pad("doc_id").alias("clip_id"))
    edges = conf.select(_pad("doc_a").alias("clip_a"), _pad("doc_b").alias("clip_b"))
    assigned = assign_clusters(clips_like, edges, Config())
    return assigned.select(
        F.col("clip_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


def incremental_clusters(docs: DataFrame) -> DataFrame:
    """Same output as :func:`doc_clusters`, computed through the
    INCREMENTAL path: split docs deterministically into a 'history'
    (doc_id % 3 != 0) and a 'delta', assign clusters over history-only
    pairs, then fold the delta's pairs in with cluster.merge_clusters.
    The driver gate hash-checks this against the same recursive-CTE
    transitive-closure oracle as doc_clusters — pinning fold == rebuild
    through SQL, not just pytest (incremental.py module docstring for why
    equality holds: the delta edge set contains every pair touching a
    delta doc)."""
    from ..config import Config
    from .cluster import assign_clusters, merge_clusters

    cfg = Config()
    # NOT persisted: the returned plan is lazy (the driver collects later),
    # so a persist here would be dropped before materialization; the shared
    # row-local shingle/minhash subtree recomputes per reference, as in
    # pair_jaccard
    conf = confirmed_pairs(docs)
    edges = conf.select(_pad("doc_a").alias("clip_a"), _pad("doc_b").alias("clip_b"))
    old_ids = docs.filter(F.col("doc_id") % 3 != 0).select(_pad("doc_id").alias("clip_id"))
    new_ids = docs.filter(F.col("doc_id") % 3 == 0).select(_pad("doc_id").alias("clip_id"))
    old_edges = edges.join(
        old_ids.withColumnRenamed("clip_id", "clip_a"), "clip_a", "left_semi"
    ).join(old_ids.withColumnRenamed("clip_id", "clip_b"), "clip_b", "left_semi")
    delta_edges = edges.exceptAll(old_edges)  # every pair touching a delta doc
    base = assign_clusters(old_ids, old_edges, cfg)
    merged = merge_clusters(base, delta_edges, cfg, new_clips=new_ids)
    return merged.select(
        F.col("clip_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


def unique_docs(docs: DataFrame, confirmed: DataFrame | None = None) -> DataFrame:
    """S13: anti-join — docs with no confirmed dup partner (``confirmed`` as
    in :func:`doc_clusters`)."""
    conf = confirmed if confirmed is not None else confirmed_pairs(docs)
    members = conf.select(F.col("doc_a").alias("doc_id")).union(
        conf.select(F.col("doc_b").alias("doc_id"))
    )
    return docs.select("doc_id").join(members.distinct(), "doc_id", "left_anti")
