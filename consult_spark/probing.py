"""Query-vs-library probe core: featurize query clips, band them, join
against a prebuilt `lsh_buckets` index, verify candidates exactly.

The one probe flow CONSULT runs per `./main_search` invocation
(main_search.cpp:684-1061), shared verbatim by the batch search job
(jobs/search.py) and the continuous streaming probe
(streaming/probe.py) so both surfaces classify identically.

CONSULT loads its index once and then loops over the queries
(main_search.cpp:523-658).  The same split here: prepare_library builds
the library side once (the bucket table plus verify's library-side
projections, sized by one bounded count), and probe_clips builds only the
query side per call.  Every probe pair is (query, library), so verify
joins each member to its own side and no query ∪ library table is built —
the broadcast-the-indexed-side plan of *Implementing Distributed
Similarity Joins using LSH* (EDBT 2022).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .config import Config
from .operators import bands as bands_op
from .operators import pairs as pairs_op
from .operators import shingle as shingle_op
from .operators import verify as verify_op

TRANSCRIPTS_SCHEMA = "clip_id string, transcript string"


@dataclass(frozen=True)
class ProbeLibrary:
    """The library side of every probe: its capped bucket table and the
    side verify joins each pair's library member (clip_b) to (per channel,
    its projections; on txt, also the library's transcripts)."""

    buckets: DataFrame
    side: verify_op.VerifySide


def prepare_library(spark: SparkSession, lib_buckets: DataFrame, lib_features: DataFrame,
                    lib_transcripts: DataFrame | None) -> ProbeLibrary:
    """Build the library side once.  One bounded count of the feature table
    sizes every projection (it has at least as many rows as any one
    channel, and as the one-row-per-clip transcripts); a caller that keeps
    the library across many probes (the streaming probe) should pass
    cached frames.  A pcm-only index has no transcripts table: its txt
    side carries an empty one, so every pair scores lcs = 0."""
    n_rows = lib_features.limit(verify_op.MAX_BROADCAST_FAT_ROWS + 1).count()
    tr = (lib_transcripts if lib_transcripts is not None
          else spark.createDataFrame([], TRANSCRIPTS_SCHEMA))
    return ProbeLibrary(lib_buckets, verify_op.verify_side(lib_features, tr, n_rows))


def probe_clips(
    spark: SparkSession,
    queries: DataFrame,
    library: ProbeLibrary,
    cfg: Config,
    cache_registry: list | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """-> confirmed pairs (clip_a = query_id, clip_b = lib_id), verified
    through the full ladder (SimHash prefilter, exact Jaccard, suffix-array
    containment) against a library from prepare_library.

    The query features feed banding and verify's query side, so they are
    persisted rather than decoded twice.  ``n_queries`` (the caller's row
    count of ``queries``) bounds every query-side projection, so sizing
    the query side costs no count; without it verify counts each one.
    Pass ``cache_registry`` to persist the candidates too — confirm_pairs
    reads them three times (pcm scores, txt scores, the final join) — and
    to receive every persisted frame for unpersist once the returned plan
    has been fully materialized (the streaming probe does this per epoch,
    jobs/search.py after its two writes).  Without it the query features
    stay persisted for the rest of the session.

    A query whose id equals a library clip's id is scored with its own
    features; only the (id, id) pair is skipped."""
    q_features = shingle_op.featurize(queries, cfg).persist()
    cands = pairs_op.probe_candidates(bands_op.explode_bands(q_features), library.buckets, cfg)
    if cache_registry is not None:
        cands = cands.persist()
        cache_registry.extend([q_features, cands])
    # transcripts for the suffix-array check: pcm-only queries score
    # lcs = 0 instead of failing on a missing column
    q_tr = (
        queries.select("clip_id", "transcript")
        if "transcript" in queries.columns
        else spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    )
    return verify_op.confirm_pairs(cands, q_features, q_tr, cfg,
                                   side_b=library.side, n_rows=n_queries)
