"""Supplemental measurement harness for the optimization rounds.

bench.py is FROZEN (the driver times the round with its round-start copy);
everything exploratory lives here instead:

  --plans <tag>     capture .explain("formatted") for every declared bench
                    query (and the audio-pipeline stages) into
                    plans/r08/<name>_<tag>.txt
  --isolate         time each bench query with the noop sink (guide §1.4)
                    so the computation is measured, not .count()'s column
                    pruning; repeats + steal ticks like bench.py
  --doc-stages      run_doc_pipeline's own per-stage ``timings`` (untraced)
                    over the sf tier's documents, after one discarded warm
                    run; repeats + steal ticks like --isolate
  --featurize-profile  cProfile one single-threaded featurize batch over a
                    slice of the bench corpus — attributes the per-clip cost
                    (decode vs frame features vs hashing)

Results are cited in OPTIMIZATION_r08.md; the JSON lines printed here are
NOT the driver contract (bench.py is).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))

BENCH_QUERIES = (
    "confirmed_pairs", "cosine_topk", "ann_lsh_topk", "simhash16",
    "ann_near_dup_lsh", "probe_matched", "simhash64_band_pairs",
)


def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def _get_spark(cpus: int):
    from consult_spark.session import get_spark

    try:
        os.sched_setaffinity(0, set(range(cpus)))
    except (AttributeError, OSError, ValueError):
        pass
    return get_spark("consult_spark_bench_extra", master=f"local[{cpus}]")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_plans(sf_dir: str, tag: str, cpus: int) -> None:
    import __spark_entry__ as E
    from consult_spark.plans.inspect import formatted_plan

    spark = _get_spark(cpus)
    out_dir = os.path.join(REPO, "plans", "r08")
    os.makedirs(out_dir, exist_ok=True)
    qs = E.queries()
    for name in BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {name}_{tag}.txt")
    # audio pipeline stage plans over the bench corpus
    from consult_spark.config import Config
    from consult_spark.operators import bands as bands_op
    from consult_spark.operators import pairs as pairs_op
    from consult_spark.operators import shingle as shingle_op
    from consult_spark.operators import verify as verify_op

    cfg = Config()
    clips_path = os.path.join(REPO, ".fixtures", "clips_bench_20000")
    if os.path.exists(os.path.join(clips_path, "_SUCCESS")):
        clips = spark.read.parquet(clips_path)
        features = shingle_op.featurize_from_parquet(spark, clips_path, cfg)
        buckets = bands_op.capped_buckets(bands_op.explode_bands(features), cfg)
        candidates = pairs_op.candidate_pairs(buckets, cfg)
        confirmed = verify_op.confirm_pairs(candidates, features, clips, cfg)
        for name, df in (
            ("audio_features", features),
            ("audio_candidates", candidates),
            ("audio_confirmed", confirmed),
        ):
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(formatted_plan(df))
            print(f"wrote {name}_{tag}.txt")
    spark.stop()


def run_isolate(sf_dir: str, cpus: int, repeats: int = 3) -> None:
    import __spark_entry__ as E

    spark = _get_spark(cpus)
    qs = E.queries()
    out: dict[str, list] = {}
    for name in BENCH_QUERIES:
        noop(qs[name](spark, "/root/testdata/sf0.001"))  # JIT warm
    for name in BENCH_QUERIES:
        runs = []
        for _ in range(repeats):
            s0 = _steal_ticks()
            t0 = time.time()
            spark.sparkContext.setJobDescription(f"isolate:{name}")
            noop(qs[name](spark, sf_dir))
            runs.append({"wall_sec": round(time.time() - t0, 3),
                         "steal": _steal_ticks() - s0})
        out[name] = runs
        print(json.dumps({name: runs}))
    print(json.dumps({"isolate": {k: min(r["wall_sec"] for r in v)
                                  for k, v in out.items()}}))
    spark.stop()


def run_doc_stages(sf_dir: str, cpus: int, repeats: int = 3) -> None:
    """Stage walls of the document dedup job, untraced: each repeat writes a
    fresh warehouse, so no stage is served from a previous run."""
    import tempfile

    from consult_spark.sources.documents import read_documents_parquet
    from jobs.dedup_documents import run_doc_pipeline

    spark = _get_spark(cpus)
    docs = read_documents_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    runs = []
    with tempfile.TemporaryDirectory() as tmp:
        for i in range(repeats + 1):
            s0 = _steal_ticks()
            t0 = time.time()
            res = run_doc_pipeline(spark, docs, os.path.join(tmp, f"wh{i}"))
            run = {"wall_sec": round(time.time() - t0, 3), "steal": _steal_ticks() - s0,
                   "timings": {k: round(v, 3) for k, v in res["timings"].items()}}
            if i:  # run 0 warms the JVM and python workers
                runs.append(run)
                print(json.dumps({"doc_stages_run": run}))
    print(json.dumps({"doc_stages": {k: min(r["timings"][k] for r in runs)
                                     for k in runs[0]["timings"]}}))
    spark.stop()


def run_featurize_profile(n_clips: int = 64) -> None:
    """Single-threaded cProfile of featurize_pdf over bench-corpus clips."""
    import cProfile
    import glob
    import io
    import pstats

    import pyarrow.parquet as pq

    from consult_spark.config import Config
    from consult_spark.operators.shingle import featurize_pdf

    files = sorted(glob.glob(os.path.join(REPO, ".fixtures", "clips_bench_20000", "*.parquet")))
    pdf = pq.read_table(files[0], columns=["clip_id", "bytes", "codec", "transcript"]).to_pandas()
    pdf = pdf.iloc[:n_clips]
    cfg = Config()
    featurize_pdf(pdf.iloc[:4], cfg)  # warm imports
    t0 = time.time()
    pr = cProfile.Profile()
    pr.enable()
    featurize_pdf(pdf, cfg)
    pr.disable()
    wall = time.time() - t0
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(30)
    print(s.getvalue())
    print(json.dumps({"featurize_profile": {
        "n_clips": len(pdf), "wall_sec": round(wall, 3),
        "ms_per_clip": round(1000 * wall / len(pdf), 2)}}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", metavar="TAG")
    ap.add_argument("--isolate", action="store_true")
    ap.add_argument("--doc-stages", action="store_true")
    ap.add_argument("--featurize-profile", action="store_true")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args.plans:
        run_plans(sf_dir, args.plans, args.cpus)
    if args.isolate:
        run_isolate(sf_dir, args.cpus, args.repeats)
    if args.doc_stages:
        run_doc_stages(sf_dir, args.cpus, args.repeats)
    if args.featurize_profile:
        run_featurize_profile()


if __name__ == "__main__":
    main()
