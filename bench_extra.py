"""Supplemental measurement harness for the optimization rounds.

bench.py is FROZEN (the driver times the round with its round-start copy);
everything exploratory lives here instead:

  --plans <tag>     capture .explain("formatted") for every declared bench
                    query (and the audio-pipeline stages) into
                    plans/<tag>/<name>.txt — a new directory per tag, so a
                    capture never overwrites the committed plans/r08/
  --isolate         time each bench query with the noop sink (guide §1.4)
                    so the computation is measured, not .count()'s column
                    pruning; repeats + steal ticks like bench.py
  --doc-stages      run_doc_pipeline's own per-stage ``timings`` (untraced)
                    over the sf tier's documents, after one discarded warm
                    run; repeats + steal ticks like --isolate
  --featurize-profile  cProfile the featurize driver's per-row loop
                    (shingle._shingle_rows) on one batch, single-threaded,
                    over a slice of the bench corpus — attributes the
                    per-clip cost (decode vs frame features vs hashing)
  --probe-jobs      one warm, untraced probe_stream drain (perfbench's
                    seeded inputs, ``--seed N``) with the event log on:
                    jobs, stages, tasks and executor CPU per drain and per
                    epoch, and each epoch's wall split into start-up, plan
                    build and its two data writes
  --stage-jobs      one warm run each of run_doc_pipeline (perfbench's
                    text_ann documents, ``--seed N``) and run_pipeline
                    (.fixtures/clips_200): jobs split into stage writes,
                    read-back counts, lineage, flush and the rest

Results are cited in OPTIMIZATION_r08.md; the JSON lines printed here are
NOT the driver contract (bench.py is).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))

BENCH_QUERIES = (
    "confirmed_pairs", "cosine_topk", "ann_lsh_topk", "simhash16",
    "ann_near_dup_lsh", "probe_matched", "simhash64_band_pairs",
    "ann_ivf_topk", "embedding_near_dup",
    # every verify caller: confirm_pairs (pcm + txt) and channel_scores
    # on img and vid
    "audio_confirmed_pairs", "media_confirmed_pairs", "video_confirmed_pairs",
)


def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def _get_spark(cpus: int, extra_conf: dict | None = None):
    from consult_spark.session import get_spark

    try:
        os.sched_setaffinity(0, set(range(cpus)))
    except (AttributeError, OSError, ValueError):
        pass
    return get_spark("consult_spark_bench_extra", master=f"local[{cpus}]",
                     extra_conf=extra_conf)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_plans(sf_dir: str, tag: str, cpus: int) -> None:
    import __spark_entry__ as E
    from consult_spark.plans.inspect import formatted_plan

    spark = _get_spark(cpus)
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    qs = E.queries()
    for name in BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {tag}/{name}.txt")
    # audio pipeline stage plans over the bench corpus
    from consult_spark.config import Config
    from consult_spark.operators import bands as bands_op
    from consult_spark.operators import pairs as pairs_op
    from consult_spark.operators import shingle as shingle_op
    from consult_spark.operators import verify as verify_op

    cfg = Config()
    clips_path = os.path.join(REPO, ".fixtures", "clips_bench_20000")
    if not os.path.exists(os.path.join(clips_path, "_SUCCESS")):
        print(f"skipped audio_features/audio_candidates/audio_confirmed: no bench corpus "
              f"at {clips_path}")
    else:
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
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(formatted_plan(df))
            print(f"wrote {tag}/{name}.txt")
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
    """Single-threaded cProfile of the featurize driver's per-row loop over
    bench-corpus clips."""
    import cProfile
    import io
    import pstats

    import pyarrow.parquet as pq

    from consult_spark.config import Config
    from consult_spark.operators import shingle

    files = sorted(glob.glob(os.path.join(REPO, ".fixtures", "clips_bench_20000", "*.parquet")))
    pdf = pq.read_table(files[0], columns=["clip_id", "bytes", "codec", "transcript"]).to_pandas()
    pdf = pdf.iloc[:n_clips]
    cfg = Config()
    shinglers = shingle.clip_shinglers(cfg)
    shingle._shingle_rows(pdf.iloc[:4], shinglers, cfg)  # warm imports
    t0 = time.time()
    pr = cProfile.Profile()
    pr.enable()
    shingle._shingle_rows(pdf, shinglers, cfg)
    pr.disable()
    wall = time.time() - t0
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(30)
    print(s.getvalue())
    print(json.dumps({"featurize_profile": {
        "n_clips": len(pdf), "wall_sec": round(wall, 3),
        "ms_per_clip": round(1000 * wall / len(pdf), 2)}}))


def _event_jobs(event_dir: str) -> list[dict]:
    """Every job of the event log: id, submission time (ms), streaming
    batch id (None outside an epoch), and the stages, tasks and executor
    CPU it ran.  A stage counts for the first job that lists it; a job
    that reuses its shuffle output lists it as skipped."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    ran: set[int] = set()
    for path in sorted(glob.glob(f"{event_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    batch = props.get("streaming.sql.batchId")
                    job = jobs[ev["Job ID"]] = {
                        "submitted_ms": ev.get("Submission Time", 0),
                        "batch": None if batch is None else int(batch),
                        "stages": 0, "tasks": 0, "cpu_s": 0.0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job and sid not in ran:
                        ran.add(sid)
                        jobs[stage_job[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    jobs[jid]["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    jobs[jid]["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    return list(jobs.values())


def _job_totals(jobs: list[dict]) -> dict:
    return {"jobs": len(jobs), "stages": sum(j["stages"] for j in jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "cpu_s": round(sum(j["cpu_s"] for j in jobs), 3)}


def run_probe_jobs(seed: int) -> None:
    """Job counts and the epoch wall split of one probe_stream drain, on the
    inputs, sizes and 4-core session of ``perfbench/run.py --workload
    probe_stream``: set-up builds the index and drains the warm-up file,
    then one drain of the query file runs with nothing else in flight.

    Untraced on purpose: the tracer's persist + count barriers add jobs of
    their own.  The event log is on for the whole session and read after
    it stops; the drain's jobs are those submitted between its start and
    its end, and an epoch's jobs carry its ``streaming.sql.batchId``.

    Wall split of each epoch: ``startup_s`` is the trigger's time outside
    foreachBatch (offsets, file listing, WAL) plus the batch function's
    time before it calls ``probe_batch``; ``plan_build_s`` is the
    ``probe_batch`` call on either route (building the plan; on the SQL
    route also the batch count and any job it runs to size a broadcast);
    ``matched_write_s`` / ``unmatched_write_s`` are the two data writes;
    ``rest_s`` is what is left of the batch function."""
    import tempfile

    from perfbench.workloads import ProbeStream

    with tempfile.TemporaryDirectory(prefix="probe-jobs-") as tmp:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
        os.environ.setdefault("CONSULT_SPARK_DRIVER_MEM", "1g")
        os.environ["CONSULT_SPARK_LOCAL_DIR"] = os.path.join(tmp, "spark-local")
        os.environ.pop("SPARK_LOCAL_DIRS", None)
        wl = ProbeStream(REPO, seed, ProbeStream.size)
        spark = _get_spark(4, {"spark.eventLog.enabled": "true",
                               "spark.eventLog.dir": events,
                               "spark.eventLog.compress": "false"})
        spark.sparkContext.setLogLevel("ERROR")

        import consult_spark.streaming.probe as sp

        calls: list[tuple[str, float, float]] = []

        def timed_call(name: str, fn):
            def wrapper(*args, **kwargs):
                t0 = time.time()
                try:
                    return fn(*args, **kwargs)
                finally:
                    label = name if name != "write" else os.path.basename(args[1])
                    calls.append((label, t0, time.time()))
            return wrapper

        make_writer = sp.make_probe_batch_writer

        def make_timed_writer(*args, **kwargs):
            return timed_call("epoch", make_writer(*args, **kwargs))

        wl.setup(spark, os.path.join(tmp, "work"))
        wl.warmup(spark, os.path.join(tmp, "warmup"))
        originals = (sp.probe_batch, sp._epoch_write, sp.make_probe_batch_writer)
        sp.probe_batch = timed_call("probe_batch", sp.probe_batch)
        sp._epoch_write = timed_call("write", sp._epoch_write)
        sp.make_probe_batch_writer = make_timed_writer
        s0 = _steal_ticks()
        t0 = time.time()
        try:
            lat = wl.op(spark, os.path.join(tmp, "op"))
        finally:
            sp.probe_batch, sp._epoch_write, sp.make_probe_batch_writer = originals
        t1 = time.time()
        steal = _steal_ticks() - s0
        spark.stop()

        drain = [j for j in _event_jobs(events)
                 if t0 * 1000 <= j["submitted_ms"] <= t1 * 1000]
        per_batch: dict[int, list[dict]] = {}
        for j in drain:
            if j["batch"] is not None:
                per_batch.setdefault(j["batch"], []).append(j)
        epochs = [c for c in calls if c[0] == "epoch"]
        splits = []
        for (_, e0, e1), trigger_s in zip(epochs, lat):
            inside = [c for c in calls if c[0] != "epoch" and e0 <= c[1] <= e1]
            plan = [c for c in inside if c[0] == "probe_batch"]
            plan_start = plan[0][1] if plan else e1
            split = {
                "epoch_s": round(e1 - e0, 3),
                "startup_s": round(trigger_s - (e1 - e0) + (plan_start - e0), 3),
                "plan_build_s": round(sum(c[2] - c[1] for c in plan), 3),
            }
            for table in ("matched_clips", "unmatched_clips"):
                split[f"{table.split('_')[0]}_write_s"] = round(
                    sum(c[2] - c[1] for c in inside if c[0] == table), 3)
            split["rest_s"] = round(
                (e1 - e0) - (plan_start - e0) - sum(v for k, v in split.items()
                                                    if k.endswith("_write_s"))
                - split["plan_build_s"], 3)
            splits.append(split)
        print(json.dumps({"probe_jobs": {
            "seed": seed, "wall_s": round(t1 - t0, 3), "steal": steal,
            "drain": _job_totals(drain),
            "outside_epochs": _job_totals([j for j in drain if j["batch"] is None]),
            "epochs": [{"batch": b, **_job_totals(js)} for b, js in sorted(per_batch.items())],
            "epoch_walls": splits,
        }}))


STAGE_JOB_KINDS = ("stage_write", "readback_count", "lineage", "flush")


def run_stage_jobs(seed: int) -> None:
    """Spark jobs of one warm run each of ``run_doc_pipeline`` (perfbench's
    text_ann documents for ``--seed N``) and ``run_pipeline``
    (``.fixtures/clips_200``), split by what submitted them.  Each run is
    preceded by an identical discarded run into its own warehouse.

    Jobs are told apart by job group, set by wrappers installed for the
    measured run only:
      stage_write     the DataFrameWriter.parquet call inside Warehouse.write
      readback_count  the rest of Warehouse.write (its row count)
      lineage         MetricsSink.record_stage
      flush           MetricsSink.flush
      other           everything else: the stages' own computations
    Seconds are exclusive: a nested group's time is not its parent's."""
    import tempfile
    import threading

    from pyspark.sql import DataFrameWriter

    from consult_spark import io as wh_io
    from consult_spark import metrics
    from jobs.dedup_documents import run_doc_pipeline
    from jobs.pipeline import run_pipeline
    from perfbench.workloads import TextAnn

    with tempfile.TemporaryDirectory(prefix="stage-jobs-") as tmp:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
        os.environ.setdefault("CONSULT_SPARK_DRIVER_MEM", "1g")
        os.environ["CONSULT_SPARK_LOCAL_DIR"] = os.path.join(tmp, "spark-local")
        os.environ.pop("SPARK_LOCAL_DIRS", None)
        spark = _get_spark(4)
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        local = threading.local()

        def grouped(kind: str, fn, only_inside: str | None = None):
            def wrapper(*args, **kwargs):
                stack = local.__dict__.setdefault("stack", [])
                if not stack or (only_inside and stack[-1][0] != only_inside):
                    return fn(*args, **kwargs)
                prev = sc.getLocalProperty("spark.jobGroup.id")
                sc.setLocalProperty("spark.jobGroup.id", f"{local.run}:{kind}")
                stack.append([kind, 0.0])
                t0 = time.time()
                try:
                    return fn(*args, **kwargs)
                finally:
                    dt = time.time() - t0
                    _, inner = stack.pop()
                    local.secs[kind] = local.secs.get(kind, 0.0) + dt - inner
                    stack[-1][1] += dt
                    sc.setLocalProperty("spark.jobGroup.id", prev)
            return wrapper

        patches = [
            (wh_io.Warehouse, "write", grouped("readback_count", wh_io.Warehouse.write)),
            (DataFrameWriter, "parquet",
             grouped("stage_write", DataFrameWriter.parquet, only_inside="readback_count")),
            (metrics.MetricsSink, "record_stage",
             grouped("lineage", metrics.MetricsSink.record_stage)),
            (metrics.MetricsSink, "flush", grouped("flush", metrics.MetricsSink.flush)),
        ]
        originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
        for owner, attr, fn in patches:
            setattr(owner, attr, fn)

        def measure(label: str, run) -> dict:
            run(os.path.join(tmp, f"{label}-warm"))
            local.run, local.secs, local.stack = label, {}, [["other", 0.0]]
            sc.setLocalProperty("spark.jobGroup.id", f"{label}:other")
            s0 = _steal_ticks()
            t0 = time.time()
            try:
                run(os.path.join(tmp, label))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            wall = time.time() - t0
            local.stack = []
            out = {"wall_s": round(wall, 3), "steal": _steal_ticks() - s0}
            for kind in STAGE_JOB_KINDS + ("other",):
                secs = wall - sum(local.secs.values()) if kind == "other" else \
                    local.secs.get(kind, 0.0)
                out[kind] = {"jobs": len(sc.statusTracker().getJobIdsForGroup(
                    f"{label}:{kind}")), "s": round(secs, 3)}
            out["jobs"] = sum(out[k]["jobs"] for k in STAGE_JOB_KINDS + ("other",))
            print(json.dumps({"stage_jobs_run": {label: out}}))
            return out

        try:
            wl = TextAnn(REPO, seed, TextAnn.size)
            wl.setup(spark, os.path.join(tmp, "work"))
            __import__("__spark_entry__")._clips_fixture(spark)
            clips = spark.read.parquet(os.path.join(REPO, ".fixtures", "clips_200"))
            runs = {
                "run_doc_pipeline": measure(
                    "run_doc_pipeline", lambda d: run_doc_pipeline(spark, wl.docs, d)),
                "run_pipeline": measure(
                    "run_pipeline", lambda d: run_pipeline(spark, clips, d)),
            }
        finally:
            for owner, attr, fn in originals:
                setattr(owner, attr, fn)
            spark.stop()
        print(json.dumps({"stage_jobs": {"seed": seed, "cpus": 4, **runs}}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", metavar="TAG")
    ap.add_argument("--isolate", action="store_true")
    ap.add_argument("--doc-stages", action="store_true")
    ap.add_argument("--featurize-profile", action="store_true")
    ap.add_argument("--probe-jobs", action="store_true")
    ap.add_argument("--stage-jobs", action="store_true")
    ap.add_argument("--seed", type=int, default=1,
                    help="--probe-jobs / --stage-jobs input seed")
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
    if args.probe_jobs:
        run_probe_jobs(args.seed)
    if args.stage_jobs:
        run_stage_jobs(args.seed)


if __name__ == "__main__":
    main()
