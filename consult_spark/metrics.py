"""The stage runner, and the metrics + lineage tables it fills.

CONSULT keeps per-file (lines_read, reads_matched) counters in memory and
reports them once (main_search.cpp:1058-1061), plus per-table kept/dropped
counters at build time (main_map.cpp:903-905).  The distributed analog is a
pair of append-only tables:

  metrics(run_id, stage, key, value double, ts)        — stage-level scalars
  lineage(run_id, stage, partition_id, rows, ts)       — rows per data file

Every job runs its stages through one StageRunner, which skips a stage on
resume, writes and times it, and buffers its metrics and lineage rows;
``flush()`` writes both tables once per run.  A stage's counters (e.g.
decode_failed) are read off its own write by a ``pyspark.sql.Observation``.
A lineage row is one data file of the stage's table (``partition_id`` =
the file's ordinal in path order), its rows read from the footer: the balance (skew!) of the stage's
own output partitions.  In Parquet mode this bookkeeping submits no Spark
job — counts come from footers (Warehouse.file_rows), the flush is a
driver-side pyarrow write (io.write_rows).
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

from .io import write_rows

METRICS_SCHEMA = "run_id string, stage string, key string, value double, ts double"
LINEAGE_SCHEMA = "run_id string, stage string, partition_id int, rows bigint, ts double"


class StageRunner:
    def __init__(self, warehouse, resume: bool = False) -> None:
        self.wh = warehouse
        self.resume = resume
        self.timings: dict[str, float] = {}
        self._metrics: list[tuple] = []
        self._lineage: list[tuple] = []

    def add(self, stage: str, key: str, value: float) -> None:
        self._metrics.append((self.wh.run_id, stage, key, float(value), time.time()))

    def timed(self, name: str, fn: Callable):
        """Run step ``name``; its wall time goes to timings and to metrics."""
        t0 = time.time()
        out = fn()
        self.timings[name] = time.time() - t0
        self.add(name, "wall_sec", self.timings[name])
        return out

    def write(self, name: str, build: Callable[[], DataFrame], mode: str = "overwrite",
              partition_by: tuple[str, ...] = (), replace: bool = False,
              counters: dict[str, Column] | None = None) -> int:
        """Write ``build()`` as table ``name``, timed and recorded (through
        Warehouse.replace when the plan reads ``name``) -> the table's rows.
        ``counters``: named aggregates over the written rows, read off the
        write by an Observation into the stage's metrics (no job of their own)."""
        obs = Observation() if counters else None

        def observed() -> DataFrame:
            df = build()
            return df.observe(obs, *[c.alias(k) for k, c in counters.items()]) if counters else df

        n = self.timed(name, lambda: (
            self.wh.replace(observed(), name, partition_by=partition_by) if replace
            else self.wh.write(observed(), name, mode=mode, partition_by=partition_by)))
        self.record_stage(name, {"rows": n, **(obs.get if counters else {})})
        return n

    def stage(self, name: str, build: Callable[[], DataFrame],
              partition_by: tuple[str, ...] = (),
              counters: dict[str, Column] | None = None) -> DataFrame:
        """write() unless resuming past an up-to-date manifest -> the table.
        A skipped stage still records its lineage: footers cost no job.  Its
        rows and counters stay with the run whose write made the table."""
        if self.resume and self.wh.exists(name):
            self.timings[name] = 0.0
            self.record_stage(name)
        else:
            self.write(name, build, partition_by=partition_by, counters=counters)
        return self.wh.read(name)

    def record_stage(self, name: str, extra: dict | None = None) -> None:
        """Buffer table ``name``'s lineage rows and the stage's metrics."""
        ts = time.time()
        self._lineage += [(self.wh.run_id, name, i, n, ts)
                          for i, n in enumerate(self.wh.file_rows(name))]
        for k, v in (extra or {}).items():
            self.add(name, k, v)

    def flush(self) -> None:
        for table, schema, rows in (("metrics", METRICS_SCHEMA, self._metrics),
                                    ("lineage", LINEAGE_SCHEMA, self._lineage)):
            if not rows:
                continue
            if self.wh.use_iceberg:
                self.wh.spark.createDataFrame(rows, schema).writeTo(f"local.db.{table}").append()
            else:
                write_rows(self.wh.spark, rows, schema, self.wh._path(table))
            rows.clear()


# perfbench/spans.py traces the runner's record step and flush under this name
MetricsSink = StageRunner
