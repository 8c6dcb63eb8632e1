"""The document-corpus dedup job: end-to-end over a JSONL shard, resumable,
outputs consistent with the operator-level oracles, and each text-dedup
computation run once per pipeline run."""

from __future__ import annotations

import json

from jobs.dedup_documents import run_doc_pipeline
from consult_spark.operators import text as text_op
from consult_spark.operators import textdedup as td
from consult_spark.plans.inspect import formatted_plan
from consult_spark.sources.documents import read_documents_jsonl, read_documents_parquet
from tests.test_simhash64 import DOCS


def test_doc_pipeline_jsonl_end_to_end(spark, tmp_path):
    import random

    p = tmp_path / "corpus.jsonl"
    rng = random.Random(99)
    vocab = [f"w{rng.randrange(10**6)}x" for _ in range(400)]
    rows = [
        {"doc_id": i, "text": " ".join(rng.choice(vocab) for _ in range(40))}
        for i in range(30)
    ]
    rows += [{"doc_id": 100 + i, "text": rows[i]["text"] + " extra!"} for i in range(5)]  # near dups
    rows += [{"doc_id": 200, "text": rows[0]["text"]}]  # exact dup of doc 0
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    docs = read_documents_jsonl(spark, str(p))
    res = run_doc_pipeline(spark, docs, str(tmp_path / "wh"))
    wh = res["warehouse"]

    exact = {(r["doc_id"], r["canonical_id"]) for r in wh.read("exact_dup_groups").collect()}
    assert exact == {(0, 0), (200, 0)}

    clusters = {r["doc_id"]: r["cluster_id"] for r in res["tables"]["doc_clusters"].collect()}
    assert len(clusters) == 36
    # each planted near-dup ends in its base's cluster; exact dup too
    assert clusters[200] == clusters[0]
    for i in range(5):
        assert clusters[100 + i] == clusters[i], (i, clusters[100 + i], clusters[i])

    # resume skips every stage and returns identical clusters
    res2 = run_doc_pipeline(spark, docs, str(tmp_path / "wh"), resume=True)
    assert all(v == 0.0 for v in res2["timings"].values())
    clusters2 = {r["doc_id"]: r["cluster_id"] for r in res2["tables"]["doc_clusters"].collect()}
    assert clusters2 == clusters


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_doc_pipeline_computes_each_chain_once(spark, tmp_path, monkeypatch):
    """The job derives confirmed pairs and language ids once: doc_clusters
    and unique_docs consume the confirmed_pairs table it wrote, corpus_stats
    the lang_id table.  Outputs equal the standalone operators' and the job
    golden (0 / 28 / 500 / 455 on the sf0.001 documents)."""
    docs = read_documents_parquet(spark, DOCS)
    calls = {"confirmed_pairs": 0, "lang_id": 0}

    def counted(mod, name):
        fn = getattr(mod, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(mod, name, wrapper)

    counted(td, "confirmed_pairs")
    counted(text_op, "lang_id")
    res = run_doc_pipeline(spark, docs, str(tmp_path / "wh"))
    monkeypatch.undo()
    assert calls == {"confirmed_pairs": 1, "lang_id": 1}

    wh = res["warehouse"]
    tables = {n: wh.read(n) for n in
              ("exact_dup_groups", "confirmed_pairs", "doc_clusters", "unique_docs", "corpus_stats")}
    assert [tables[n].count() for n in
            ("exact_dup_groups", "confirmed_pairs", "doc_clusters", "unique_docs")] == [0, 28, 500, 455]
    assert _rows(tables["doc_clusters"]) == _rows(td.doc_clusters(docs))
    assert _rows(tables["unique_docs"]) == _rows(td.unique_docs(docs))
    assert _rows(tables["corpus_stats"]) == _rows(text_op.corpus_stats(spark, docs))

    # fed the written table, neither consumer re-derives MinHash (md5)
    confirmed = tables["confirmed_pairs"]
    assert "md5(" in formatted_plan(td.unique_docs(docs))  # the check can fire
    assert "md5(" not in formatted_plan(td.unique_docs(docs, confirmed))
    assert "md5(" not in formatted_plan(td.doc_clusters(docs, confirmed))
