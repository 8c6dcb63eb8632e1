"""Traced mode: spans around calls into each layer's public functions.

Spans are recorded from outside the program: ``Tracer.install`` replaces
each public function named in ``LAYERS`` on its module (and on the modules
that bound it by name at import) with a wrapper, and ``uninstall`` puts the
originals back.  A wrapper opens a span, tags the Spark jobs it submits with
the span's id as job group, and, when the call returns a DataFrame,
materializes it (persist + count) so the layer's work lands in its own span.
Warehouse.read is the exception: a read's cost is the scan its consumer
runs, and pinning every table read would change what the traced run caches.

Counts needed for ratios (decode failures, cap drops, verify inputs) are
taken in child spans of the pseudo-layer ``trace``, so their time never
counts as a layer's self time.

Spans stay in memory; ``per_layer`` derives the metrics after the run from
the spans plus Spark's event log (written uncompressed in traced runs only).
``trace.overhead_s`` is the work tracing adds: the bookkeeping counts plus
the wrappers' own span and persist calls.  A materializing count is not in
it: that is the layer's own work, done earlier than without tracing.
"""

from __future__ import annotations

import glob
import importlib
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# (layer, module, public functions); "Class.method" patches a method
LAYERS = [
    ("shingle", "consult_spark.operators.shingle", ["featurize"]),
    ("bands", "consult_spark.operators.bands",
     ["explode_bands", "capped_buckets", "bucket_stats"]),
    ("pairs", "consult_spark.operators.pairs", ["candidate_pairs", "probe_candidates"]),
    ("verify", "consult_spark.operators.verify", ["confirm_pairs"]),
    ("cluster", "consult_spark.operators.cluster", ["assign_clusters", "unique_clips"]),
    ("probing", "consult_spark.probing", ["probe_clips"]),
    ("io", "consult_spark.io", ["Warehouse.write", "Warehouse.read"]),
    ("io", "consult_spark.streaming.epochs", ["epoch_write"]),
    ("metrics", "consult_spark.metrics", ["MetricsSink.record_stage", "MetricsSink.flush"]),
    ("textdedup", "consult_spark.operators.textdedup",
     ["exact_dup_groups", "confirmed_pairs", "doc_clusters", "unique_docs"]),
    ("text", "consult_spark.operators.text", ["quality_scores", "lang_id", "corpus_stats"]),
    ("ann", "consult_spark.operators.ann", ["lsh_bucketed_topk", "ivf_topk", "near_dup_auto"]),
]
# modules that imported a traced function by name: (module, local name, source)
REBOUND = [
    ("consult_spark.streaming.probe", "probe_clips", "consult_spark.probing.probe_clips"),
    ("consult_spark.streaming.probe", "_epoch_write", "consult_spark.streaming.epochs.epoch_write"),
]
NAMED_LAYERS = ["session", "shingle", "bands", "pairs", "verify", "cluster", "probing",
                "io", "metrics", "textdedup", "text", "ann"]
NO_MATERIALIZE = {"Warehouse.read"}
JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    layer: str
    start: float
    parent: str | None
    run_id: str
    end: float = 0.0
    rows: int | None = None
    counts: dict = field(default_factory=dict)
    prev_group: str | None = None


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self.cached: list = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._root: Span | None = None
        self._undo: list[tuple[object, str, object]] = []
        # seconds spent in the wrappers' own span and persist calls
        self.own_s = 0.0

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = Span(f"pb-{self.run_id}-{next(self._ids)}", name, layer, time.time(),
                  parent.id if parent else None, self.run_id)
        sc = self.spark.sparkContext
        sp.prev_group = sc.getLocalProperty(JOB_GROUP)
        sc.setLocalProperty(JOB_GROUP, sp.id)
        stack.append(sp)
        if layer == "op":
            self._root = sp
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()
        self.spark.sparkContext.setLocalProperty(JOB_GROUP, sp.prev_group)
        if sp.layer == "op":
            self._root = None
        self.spans.append(sp)

    def count(self, df) -> int:
        """A bookkeeping count, timed as the ``trace`` pseudo-layer."""
        sp = self.open("count", "trace")
        try:
            return df.count()
        finally:
            self.close(sp)

    def dump(self, path: str) -> None:
        """Write the spans out, one JSON object per line."""
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")

    def release(self) -> None:
        """Unpersist what the wrappers materialized during one op."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    # ---------------------------------------------------------- patching
    def _wrap(self, layer: str, qual: str, fn):
        from pyspark.sql import DataFrame

        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            sp = tracer.open(qual, layer)
            tracer.own_s += time.perf_counter() - t0
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame) and qual not in NO_MATERIALIZE:
                    t0 = time.perf_counter()
                    out = out.persist()
                    tracer.cached.append(out)
                    tracer.own_s += time.perf_counter() - t0
                    sp.rows = out.count()
                tracer._ratio_counts(qual, sp, args, out)
                return out
            finally:
                t0 = time.perf_counter()
                tracer.close(sp)
                tracer.own_s += time.perf_counter() - t0

        wrapper.__wrapped__ = fn
        return wrapper

    def _ratio_counts(self, qual: str, sp: Span, args, out) -> None:
        from pyspark.sql import functions as F

        if qual == "featurize":
            sp.counts["decode_failed"] = self.count(out.filter(~F.col("decode_ok")))
        elif qual == "capped_buckets":
            sp.counts["rows_in"] = self.count(args[0])
        elif qual == "confirm_pairs":
            sp.counts["rows_in"] = self.count(args[0])
        elif qual == "probe_clips":
            sp.counts["queries"] = self.count(args[1])
            sp.counts["matched"] = self.count(out.select("clip_a").distinct())
        elif qual == "confirmed_pairs":
            from consult_spark.operators import textdedup

            sp.counts["rows_in"] = self.count(textdedup.candidate_pairs(args[0]))

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        # import everything first: a module imported after its source was
        # patched would bind the wrapper by name, and keep it after uninstall
        mods = {name: importlib.import_module(name)
                for name in [m for _, m, _ in LAYERS] + [m for m, _, _ in REBOUND]}
        wrapped = {}
        for layer, modname, names in LAYERS:
            mod = mods[modname]
            for qual in names:
                owner, attr = mod, qual
                if "." in qual:
                    cls, attr = qual.split(".")
                    owner = getattr(mod, cls)
                w = self._wrap(layer, qual, getattr(owner, attr))
                self._set(owner, attr, w)
                wrapped[f"{modname}.{qual}"] = w
        for modname, local, source in REBOUND:
            self._set(mods[modname], local, wrapped[source])

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# ---------------------------------------------------------------- event log

def _job_metrics(event_dir: str) -> dict[str, dict]:
    """Per job group: tasks, failed tasks, executor CPU, shuffle write,
    output bytes and bytes across the Python boundary, from the event log.
    A stage's tasks count for the first job that lists the stage; later
    jobs that reuse its shuffle list it as skipped."""
    stage_group: dict[int, str | None] = {}
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    # Spark writes a rolling log: one directory per application
    for path in sorted(glob.glob(f"{event_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP)
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = acc[group]
                    info = ev.get("Task Info", {})
                    m["tasks"] += 1
                    reason = ev.get("Task End Reason", {}).get("Reason")
                    if info.get("Failed") or reason != "Success":
                        m["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 2**20
                    m["write_mb"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0) / 2**20
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in ("data sent to Python workers",
                                             "data returned from Python workers"):
                            m["py_mb"] += float(a.get("Update", 0)) / 2**20
    return acc


def per_layer(tracer: Tracer, event_dir: str, items: int, boot_s: float) -> dict[str, float]:
    """The per-layer table: self time, rows, ratios and task metrics."""
    spans = tracer.spans
    children: dict[str, float] = defaultdict(float)
    for sp in spans:
        if sp.parent:
            children[sp.parent] += sp.end - sp.start
    layer: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for sp in spans:
        m = layer[sp.layer]
        m["self_s"] += max(0.0, sp.end - sp.start - children[sp.id])
        m["calls"] += 1
        m["rows_out"] += sp.rows or 0
        for k, v in sp.counts.items():
            m[k] += v
    by_id = {sp.id: sp for sp in spans}
    for group, jm in _job_metrics(event_dir).items():
        sp = by_id.get(group)
        if sp is None:
            continue
        for k, v in jm.items():
            layer[sp.layer][k] += v

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    out: dict[str, float] = {"session.boot_s": boot_s}
    for name in NAMED_LAYERS:
        m = layer[name]
        if name != "session":
            out[f"{name}.self_s"] = m["self_s"]
        out[f"{name}.tasks"] = m["tasks"]
        out[f"{name}.failed_tasks"] = m["failed_tasks"]
        for k in ("rows_out", "calls", "task_cpu_s", "shuffle_mb", "py_mb", "write_mb"):
            src = "cpu_s" if k == "task_cpu_s" else k
            out[f"{name}.{k}"] = m[src]
    out["shingle.decode_fail_ratio"] = ratio(layer["shingle"]["decode_failed"],
                                             layer["shingle"]["rows_out"])
    bands = layer["bands"]
    out["bands.cap_drop_ratio"] = ratio(bands["rows_in"] - _rows(spans, "capped_buckets"),
                                        bands["rows_in"])
    out["pairs.cands_per_item"] = ratio(layer["pairs"]["rows_out"], items)
    out["verify.confirm_ratio"] = ratio(layer["verify"]["rows_out"], layer["verify"]["rows_in"])
    out["probing.batches"] = layer["probing"]["calls"]
    out["probing.match_ratio"] = ratio(layer["probing"]["matched"], layer["probing"]["queries"])
    out["textdedup.confirm_ratio"] = ratio(_rows(spans, "confirmed_pairs"),
                                           layer["textdedup"]["rows_in"])
    ops = [sp for sp in spans if sp.layer == "op"]
    wall = sum(sp.end - sp.start for sp in ops)
    out["trace.wall_s"] = wall
    out["trace.bookkeeping_s"] = layer["trace"]["self_s"]
    out["trace.remainder_s"] = (wall - layer["trace"]["self_s"]
                                - sum(layer[n]["self_s"] for n in NAMED_LAYERS))
    out["trace.overhead_s"] = layer["trace"]["self_s"] + tracer.own_s
    return out


def _rows(spans: list[Span], qual: str) -> float:
    return sum(sp.rows or 0 for sp in spans if sp.name == qual)
