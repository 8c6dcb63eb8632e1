"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload probe_stream --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository.  Steps:

1. prepare: generate (or reuse from .perfbench_cache/) the seeded inputs;
2. host context: single-thread calibration (and, traced, a 4-core burn);
3. set-up (``setup_s``): Spark session boot, input load, for probe_stream
   the index build, and a warm-up: the operation once on a slice of the
   inputs, so that timing starts on a warm JVM;
4. timed region: operations back to back until ``--seconds`` of operation
   time have passed (at least one), each followed by an untimed check of
   its written output; ``wall_s`` is their median;
5. print one line of context, then the result as the last line of stdout.

With ``--trace 0`` the result carries the end-to-end metrics of
BENCHMARK.json.  With ``--trace 1`` the index build in set-up and one
operation are traced, Spark's event log is on, and the result carries the
per-layer metrics instead.  The result line is printed
whenever the workload was started; exit status is 0 only when every
operation completed and every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

# a run that is still going after this long is stopped and fails, with its
# JVM killed, instead of being left to an outside timeout
DEADLINE_S = 165


def _metric_units(root: str) -> dict[str, dict[str, str]]:
    """BENCHMARK.json's metric names and units, keyed by the --trace value."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {trace: {m["name"]: m["unit"] for m in spec[key]}
            for trace, key in ((0, "end_to_end"), (1, "per_layer"))}


def _environment(root: str, work: str) -> None:
    """Executors import the program from the checkout; the driver heap is
    pinned, not left at 16g.  Everything the run writes, Spark's shuffle
    scratch included, stays in its work directory inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    # the inputs are small: a 1g heap keeps the JVM near 1.2 GB resident
    os.environ["CONSULT_SPARK_DRIVER_MEM"] = "1g"
    # Spark would prefer SPARK_LOCAL_DIRS over get_spark's spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["CONSULT_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("CONSULT_SPARK_MASTER", None)
    os.environ.pop("CONSULT_SPARK_ICEBERG_JAR", None)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    daemon and workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _watchdog(work: str) -> None:
    def fire() -> None:
        from pyspark import SparkContext

        print(f"perfbench: run exceeded {DEADLINE_S} s, stopping it", file=sys.stderr, flush=True)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(124)

    timer = threading.Timer(DEADLINE_S, fire)
    timer.daemon = True
    timer.start()


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def traced_call(tracer, name: str, fn, *args):
    """Call fn inside a root span when tracing: spans wrap every layer call
    made meanwhile, and what they cached is released afterwards."""
    if tracer is None:
        return fn(*args)
    tracer.install()
    root_span = tracer.open(name, "op")
    try:
        return fn(*args)
    finally:
        tracer.close(root_span)
        tracer.uninstall()
        tracer.release()


def run(args, root: str, work: str, units: dict) -> tuple[dict, dict]:
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    _environment(root, work)
    cls = WORKLOADS[args.workload]
    prep_s, wl = timed(cls, root, args.seed, cls.tiny if args.tiny else cls.size)

    context = {"calib_pre": host.calibrate(), "prep_s": prep_s,
               "driver_mem": os.environ["CONSULT_SPARK_DRIVER_MEM"]}
    if args.trace:
        # forks workers, so it runs before the session starts; traced runs
        # only, to keep the end-to-end runs short
        context["burn"] = host.burn()
    from consult_spark.session import get_spark

    extra = None
    if args.trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                 "spark.eventLog.compress": "false"}
    boot_s, spark = timed(get_spark, "perfbench", None, None, extra)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace:
        from perfbench.spans import Tracer

        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
    walls: list[float] = []
    batches: list[float] = []
    checks: list[dict] = []
    attempted = failed = 0
    setup_s = steal = None
    rss = host.PeakRss()
    try:
        load_s = timed(traced_call, tracer, "setup", wl.setup, spark, work)[0]
        warmup_s = timed(wl.warmup, spark, os.path.join(work, "warmup"))[0]
        setup_s = boot_s + load_s + warmup_s
        context.update(load_s=load_s, warmup_s=warmup_s)
        shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)
        steal0 = host.steal_ticks()
        with rss:
            # a traced run times one operation: the run-time limit has no
            # room for an untraced twin
            while True:
                out = os.path.join(work, f"op{attempted}")
                attempted += 1
                try:
                    dt, lat = timed(traced_call, tracer, f"op{attempted}", wl.op, spark, out)
                    walls.append(dt)
                    batches += lat if lat else [dt]
                    checks.append(wl.check(out))
                except Exception:
                    traceback.print_exc()
                    checks.append({"errors": ["operation or check raised"]})
                if checks[-1]["errors"]:
                    failed += 1
                shutil.rmtree(out, ignore_errors=True)
                if args.trace or failed or sum(walls) >= args.seconds:
                    break
        steal = host.steal_ticks() - steal0
    except Exception:
        # set-up failed: no operation ran, and the result says so
        traceback.print_exc()
        attempted, failed = max(1, attempted), max(1, failed)
    finally:
        stop_s = timed(_stop, spark)[0]
    context.update(steal_ticks=steal, boot_s=boot_s, stop_s=stop_s)

    def med(key: str) -> float:
        return statistics.median(c[key] for c in checks if key in c)

    info = {
        "workload": args.workload, "seed": args.seed, "items": wl.items,
        "samples": {"ops": len(walls), "batches": len(batches)},
        "op_walls_s": walls, "batch_s": batches,
        "digests": sorted({c["digest"] for c in checks if "digest" in c}),
        "errors": sorted({e for c in checks for e in c["errors"]}),
        "host": context,
    }
    values: dict[str, float] = {}
    if args.trace and walls:
        from perfbench.spans import per_layer

        values = per_layer(tracer, os.path.join(work, "events"), wl.items, boot_s)
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    elif not args.trace and setup_s is not None:
        values["setup_s"] = setup_s
        if walls:
            wall = statistics.median(walls)
            values.update(wall_s=wall, items_per_s=wl.items / wall,
                          batch_p50_s=statistics.median(batches), peak_rss_mb=rss.peak_mb)
        for key in ("dup_recall", "dup_precision", "topk_recall"):
            if any(key in c for c in checks):
                values[key] = med(key)
        # only text_ann answers top-k queries; elsewhere none is missed
        if "dup_recall" in values:
            values.setdefault("topk_recall", 1.0)
    # a metric that was not measured is left out, never reported as a number
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in units[args.trace].items() if k in values}
    complete = len(metrics) == len(units[args.trace])
    result = {"correct": complete and not failed and not info["errors"],
              "attempted": max(1, attempted), "failed": failed, "metrics": metrics}
    return info, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dedup_batch", "probe_stream", "text_ann"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "consult_spark", "session.py")):
        print("perfbench: run from the root of a checkout (consult_spark/ not found)",
              file=sys.stderr)
        return 2
    units = _metric_units(root)
    # a terminated run still stops Spark and removes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _watchdog(work)
    try:
        info, result = run(args, root, work, units)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    # import perfbench as a package from the checkout root, not its files
    # from the script directory
    sys.path[0] = os.getcwd()
    sys.exit(main())
