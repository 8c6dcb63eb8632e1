"""The three workloads: set-up, a warm-up, the timed operation, its checks.

Set-up ends with a warm-up on a slice of the inputs (its output
unchecked): the operation once, or for text_ann each operator it calls, so
that plan compilation, the JVM's JIT, the Python workers and the cached
library are warm before timing starts.  Each operation ends with a
complete written result, and its check reads that result back (untimed) to
compute the quality metrics and invariants.
Checks read with pyarrow, not Spark: they start no Spark job, so they
neither cost the run much nor warm the JVM.
Sizes are chosen so that every run fits the benchmark's time budget; see
perfbench/README.md for the sizing facts behind them.
"""

from __future__ import annotations

import glob
import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from perfbench import inputs

TOPK = 3
NEAR_DUP_MICRO = 400_000
# a drain takes about 10 s; a stuck one fails the run instead of hanging it
DRAIN_TIMEOUT_S = 90


def _digest(*row_sets) -> str:
    h = hashlib.sha256()
    for rows in row_sets:
        for r in sorted(rows):
            h.update(repr(r).encode())
        h.update(b"|")
    return h.hexdigest()[:16]


def _read_epochs(table: str, columns: list[str]) -> pd.DataFrame:
    """The real epochs of a streaming sink (its batch_id=-1 sentinel is an
    empty schema carrier)."""
    parts = [pd.read_parquet(d, columns=columns)
             for d in sorted(glob.glob(f"{table}/batch_id=*"))
             if not d.endswith("batch_id=-1")]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=columns)


def _pair_quality(found: set, truth: set) -> dict:
    hit = len(found & truth)
    return {
        "dup_recall": hit / len(truth) if truth else 1.0,
        "dup_precision": hit / len(found) if found else 0.0,
    }


class DedupBatch:
    """``run_pipeline`` over a seeded ``datagen`` corpus, fresh warehouse per
    operation.  Items are clips."""

    name = "dedup_batch"
    size = {"n_clips": 1000}
    tiny = {"n_clips": 120}

    def __init__(self, root: str, seed: int, size: dict) -> None:
        self.data = inputs.dedup_batch(root, seed, size["n_clips"])
        self.items = len(self.data["clip_ids"])

    def setup(self, spark, work: str) -> None:
        from consult_spark.datagen import CLIPS_SCHEMA

        self.clips = spark.read.schema(CLIPS_SCHEMA).parquet(self.data["clips"])
        # one of the eight input files
        self.warm_clips = spark.read.schema(CLIPS_SCHEMA).parquet(
            sorted(glob.glob(f"{self.data['clips']}/*.parquet"))[0])

    def warmup(self, spark, out: str) -> None:
        from jobs.pipeline import run_pipeline

        run_pipeline(spark, self.warm_clips, os.path.join(out, "wh"))

    def op(self, spark, out: str) -> list[float]:
        from jobs.pipeline import run_pipeline

        run_pipeline(spark, self.clips, os.path.join(out, "wh"))
        return []

    def check(self, out: str) -> dict:
        wh = os.path.join(out, "wh")
        clusters = pd.read_parquet(f"{wh}/clusters")
        pairs = pd.read_parquet(f"{wh}/confirmed_pairs", columns=["clip_a", "clip_b"])
        uniq = set(pd.read_parquet(f"{wh}/unique_clips")["clip_id"])
        errors = []
        if len(clusters) != self.items or set(clusters["clip_id"]) != self.data["clip_ids"]:
            errors.append("clusters does not have exactly one row per clip")
        found = {tuple(sorted(p)) for p in zip(pairs["clip_a"], pairs["clip_b"])}
        if uniq & {c for p in found for c in p}:
            errors.append("unique_clips overlaps the members of confirmed pairs")
        return {
            **_pair_quality(found, self.data["truth_pairs"]),
            "errors": errors,
            "digest": _digest(zip(clusters["clip_id"], clusters["cluster_id"]), found),
        }


class ProbeStream:
    """``build_index`` in set-up, then one ``stream_probe`` drain per
    operation (closed loop: one client, one micro-batch at a time).  The
    warm-up drains one small query file, which also caches the library.
    Items are query clips."""

    name = "probe_stream"
    size = {"n_corpus": 500, "n_files": 1, "per_file": 200, "n_warm": 10}
    tiny = {"n_corpus": 200, "n_files": 2, "per_file": 15, "n_warm": 10}

    def __init__(self, root: str, seed: int, size: dict) -> None:
        self.data = inputs.probe_stream(root, seed, size["n_corpus"], size["n_files"],
                                        size["per_file"], size["n_warm"])
        self.items = len(self.data["query_ids"])

    def setup(self, spark, work: str) -> None:
        from jobs.build_index import build_index

        self.wh = os.path.join(work, "index")
        from consult_spark.datagen import CLIPS_SCHEMA

        build_index(spark, spark.read.schema(CLIPS_SCHEMA).parquet(self.data["library"]),
                    self.wh)

    def warmup(self, spark, out: str) -> None:
        self._drain(spark, self.data["warm_queries"], out)

    def op(self, spark, out: str) -> list[float]:
        return self._drain(spark, self.data["queries"], out)

    def _drain(self, spark, queries: str, out: str) -> list[float]:
        from consult_spark.streaming.probe import stream_probe

        q = stream_probe(spark, queries, self.wh, os.path.join(out, "probe"),
                         os.path.join(out, "ckpt"), max_files_per_trigger=1, once=True)
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise RuntimeError(f"drain did not finish in {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p["durationMs"]["triggerExecution"] / 1000.0
                for p in q.recentProgress if p["numInputRows"] > 0]

    def check(self, out: str) -> dict:
        probe = os.path.join(out, "probe")
        matched = _read_epochs(f"{probe}/matched_clips", ["clip_a", "clip_b"])
        unmatched = list(_read_epochs(f"{probe}/unmatched_clips", ["clip_id"])["clip_id"])
        found = set(zip(matched["clip_a"], matched["clip_b"]))
        hit_ids = set(matched["clip_a"])
        errors = []
        if (hit_ids & set(unmatched) or len(unmatched) != len(set(unmatched))
                or hit_ids | set(unmatched) != self.data["query_ids"]):
            errors.append("a query is not in exactly one of matched_clips / unmatched_clips")
        return {
            **_pair_quality(found, self.data["truth_pairs"]),
            "errors": errors,
            "digest": _digest(found, set(unmatched)),
        }


class TextAnn:
    """``run_doc_pipeline`` over seeded documents, then the three ANN
    operators over seeded embeddings, every output written as parquet.
    Items are documents plus vectors."""

    name = "text_ann"
    size = {"n_docs": 800, "n_vecs": 1280}
    tiny = {"n_docs": 300, "n_vecs": 400}

    def __init__(self, root: str, seed: int, size: dict) -> None:
        self.data = inputs.text_ann(root, seed, size["n_docs"], size["n_vecs"], TOPK,
                                    NEAR_DUP_MICRO)
        self.items = size["n_docs"] + size["n_vecs"]

    def setup(self, spark, work: str) -> None:
        def read(schema: str, path: str, files: slice = slice(None)):
            return spark.read.schema(schema).parquet(
                *sorted(glob.glob(f"{path}/*.parquet"))[files])

        self.docs = read(inputs.DOCS_SCHEMA, self.data["documents"])
        self.emb = read(inputs.EMB_SCHEMA, self.data["embeddings"])
        # two of the eight input files
        self.warm = (read(inputs.DOCS_SCHEMA, self.data["documents"], slice(2)),
                     read(inputs.EMB_SCHEMA, self.data["embeddings"], slice(2)))

    def warmup(self, spark, out: str) -> None:
        """Every operator the operation runs, once each on the slice, in
        parallel threads.  A cold JVM spends an operator's first run
        compiling plans and JIT-ing Spark, and threads overlap that: on 4
        cores this took 14 s, against 27 s for the operation's own steps
        in four threads.  run_doc_pipeline's write/read/record chain is
        left cold: the first operation after this ran ~10 % slower than
        the next."""
        from consult_spark.operators import text as text_op
        from consult_spark.operators import textdedup as td

        docs, emb = self.warm
        builds = {
            "exact_dup_groups": lambda: td.exact_dup_groups(docs),
            "quality_scores": lambda: text_op.quality_scores(docs),
            "lang_id": lambda: text_op.lang_id(spark, docs),
            "corpus_stats": lambda: text_op.corpus_stats(spark, docs),
            "confirmed_pairs": lambda: td.confirmed_pairs(docs),
            "doc_clusters": lambda: td.doc_clusters(docs),
            "unique_docs": lambda: td.unique_docs(docs),
            **self._ann(emb),
        }
        with ThreadPoolExecutor(8) as pool:
            done = [pool.submit(lambda n=n, b=b: b().write.parquet(os.path.join(out, n)))
                    for n, b in builds.items()]
            for f in done:
                f.result()

    def op(self, spark, out: str) -> list[float]:
        from jobs.dedup_documents import run_doc_pipeline

        run_doc_pipeline(spark, self.docs, os.path.join(out, "wh"))
        for name, build in self._ann(self.emb).items():
            build().write.parquet(os.path.join(out, name))
        return []

    @staticmethod
    def _ann(emb) -> dict:
        """The three ANN operators by output name, each unevaluated."""
        from consult_spark.operators import ann

        return {
            "lsh_topk": lambda: ann.lsh_bucketed_topk(emb, k=TOPK),
            "ivf_topk": lambda: ann.ivf_topk(emb, k=TOPK),
            "near_dup": lambda: ann.near_dup_auto(emb, NEAR_DUP_MICRO),
        }

    def check(self, out: str) -> dict:
        wh = os.path.join(out, "wh")
        pairs = pd.read_parquet(f"{wh}/confirmed_pairs", columns=["doc_a", "doc_b"])
        clusters = pd.read_parquet(f"{wh}/doc_clusters")
        uniq = set(pd.read_parquet(f"{wh}/unique_docs")["doc_id"])
        found = {tuple(sorted(map(int, p))) for p in zip(pairs["doc_a"], pairs["doc_b"])}
        errors = []
        n_docs = self.data["n_docs"]
        if len(clusters) != n_docs or clusters["doc_id"].nunique() != n_docs:
            errors.append("doc_clusters does not have exactly one row per document")
        if uniq & {d for p in found for d in p}:
            errors.append("unique_docs overlaps the members of confirmed pairs")
        exact = self.data["exact_top"]
        hit = total = 0
        for name in ("lsh_topk", "ivf_topk"):
            got: dict[int, set] = {}
            res = pd.read_parquet(os.path.join(out, name), columns=["vec_a", "vec_b"])
            for a, b in zip(res["vec_a"].tolist(), res["vec_b"].tolist()):
                got.setdefault(a, set()).add(b)
            hit += sum(len(got.get(v, set()) & nb) for v, nb in exact.items())
            total += sum(len(nb) for nb in exact.values())
        near = pd.read_parquet(os.path.join(out, "near_dup"))
        near_set = set(zip(*(near[c].tolist() for c in ("vec_a", "vec_b", "sim_micro"))))
        if near_set != self.data["exact_pairs"]:
            errors.append("near_dup_auto differs from the exact near-duplicate pairs")
        return {
            **_pair_quality(found, self.data["truth_pairs"]),
            "topk_recall": hit / total,
            "errors": errors,
            "digest": _digest(found, zip(clusters["doc_id"], clusters["cluster_id"]), near_set),
        }


WORKLOADS = {w.name: w for w in (DedupBatch, ProbeStream, TextAnn)}
