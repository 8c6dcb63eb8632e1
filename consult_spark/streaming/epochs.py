"""Epoch-keyed idempotent parquet writes for foreachBatch sinks.

foreachBatch is at-least-once: the batch function runs BEFORE the streaming
checkpoint commit, so a crash in between replays the epoch.  Writing each
epoch straight into its own ``batch_id=<epoch_id>`` partition directory
with mode OVERWRITE makes the replay converge — the epoch replaces exactly
its own partition and never touches any other (the standard foreachBatch
idempotence recipe, Spark structured-streaming docs "Using Foreach and
ForeachBatch").  epoch_id is deterministic across replays of the same
checkpoint, which is what makes the key sound.

An empty DataFrame still writes a schema-bearing empty part file (so a
written epoch is always readable); a sink that may legitimately never
receive rows can be pre-initialized with an empty ``batch_id=-1`` sentinel
partition (never a real epoch) so the root is readable from the start.

Rows the driver already holds (the sentinels, a one-row metrics epoch) are
written by epoch_write_rows with pyarrow (io.write_rows), not through a
Spark job: the same file layout, parquet types and Spark schema metadata as
a Spark write, at no job's scheduling cost.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..io import write_rows


def _partition_dir(table_dir: str, epoch_id: int) -> str:
    return os.path.join(table_dir, f"batch_id={epoch_id}")


def epoch_write(df: DataFrame, table_dir: str, epoch_id: int) -> None:
    """Overwrite exactly this epoch's partition directory."""
    df.write.mode("overwrite").parquet(_partition_dir(table_dir, epoch_id))


def epoch_drop(table_dir: str, epoch_id: int) -> None:
    """Remove this epoch's partition directory, if any."""
    shutil.rmtree(_partition_dir(table_dir, epoch_id), ignore_errors=True)


def epoch_write_rows(spark: SparkSession, rows: list[tuple], schema: str, table_dir: str,
                     epoch_id: int) -> None:
    """epoch_write for rows held on the driver (``schema`` a DDL string):
    the partition is staged under a hidden name and renamed into place."""
    write_rows(spark, rows, schema, _partition_dir(table_dir, epoch_id), mode="overwrite")


def init_epoch_sink(spark: SparkSession, table_dir: str, schema: str) -> None:
    """Idempotently seed ``table_dir`` with an empty sentinel partition so
    reads succeed before (or without) any real epoch."""
    if not os.path.isdir(_partition_dir(table_dir, -1)):
        epoch_write_rows(spark, [], schema, table_dir, -1)
