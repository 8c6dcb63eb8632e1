"""Warehouse I/O: Iceberg when available, plain-Parquet fallback otherwise.

Each logical table lives at ``<warehouse>/<name>`` (Parquet mode) or
``local.db.<name>`` (Iceberg mode).  Every stage write also lands a manifest
JSON — run_id, stage, config params_hash, row count, wall time — which is
what makes runs resumable: a stage whose manifest exists with a matching
params_hash is skipped on resume (the Parquet-mode analog of resuming from
an Iceberg snapshot tag; CONSULT's equivalent contract is the metadata
header that build writes and search refuses to run without,
main_map.cpp:859-946 / main_search.cpp:164-381).

The manifest's row count is the whole table's (after an append too): in
Parquet mode the sum over the footers just written, read on the driver with
no Spark job; Iceberg mode counts, since a data file's ``record_count``
overcounts once the table carries delete files.  ``write_rows`` writes rows
the driver holds (metrics, lineage, epoch rows) with pyarrow, also job-free.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
import warnings
from contextlib import suppress
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .config import Config
from .session import iceberg_available

# the footer key Spark's parquet writer stores its row schema under
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# written by snapshot() inside the snapshot: the path it was taken as, so
# restore() resumes a staged payload only for the snapshot it came from
SNAPSHOT_MARKER = "_snapshot_path"


def write_rows(spark: SparkSession, rows: list[tuple], schema: str, path: str,
               mode: str = "append") -> None:
    """Write driver-held rows to the parquet table at ``path`` with no Spark
    job: one snappy part file plus ``_SUCCESS``, typed and footer-tagged as
    Spark would write them (``schema`` is a DDL string Spark parses into an
    empty local relation: no job).  The file lands under a hidden name that
    Spark's reader skips and is renamed into place; "overwrite" stages the
    whole directory as a hidden sibling and swaps it in."""
    struct = spark.createDataFrame([], schema).schema
    arrow = to_arrow_schema(struct).with_metadata({SPARK_ROW_METADATA: struct.json()})
    table = pa.Table.from_pylist([dict(zip(struct.names, r)) for r in rows], schema=arrow)
    path = path.rstrip("/")
    out = path
    if mode == "overwrite":
        out = os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
    os.makedirs(out, exist_ok=True)
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    pq.write_table(table, os.path.join(out, f".{name}"), compression="snappy")
    os.rename(os.path.join(out, f".{name}"), os.path.join(out, name))
    open(os.path.join(out, "_SUCCESS"), "w").close()
    if mode == "overwrite":
        shutil.rmtree(path, ignore_errors=True)
        os.rename(out, path)


def _listed(name: str) -> bool:
    """Spark's reader skips "." and "_" names, except partitions ("_c=v")."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def _staged_snapshot(incoming: str) -> str | None:
    """The snapshot path a staged restore payload was taken as, if marked."""
    try:
        with open(os.path.join(incoming, SNAPSHOT_MARKER)) as f:
            return f.read()
    except OSError:
        return None


@dataclass
class Warehouse:
    spark: SparkSession
    root: str
    cfg: Config
    run_id: str = ""
    use_iceberg: bool = False

    def __post_init__(self) -> None:
        if not self.run_id:
            self.run_id = uuid.uuid4().hex[:12]
        self.use_iceberg = iceberg_available()
        # a restore() interrupted between its two renames leaves the
        # promoted-snapshot payload under the fixed incoming name with no
        # live root; finish the promotion instead of mkdir-ing an empty
        # warehouse over it (ADVICE r7 #3)
        live = self.root.rstrip("/")
        incoming = f"{live}.__restore_incoming"
        if os.path.isdir(incoming) and not os.path.isdir(live):
            # a concurrent open may have healed it between the checks and here
            with suppress(FileNotFoundError):
                os.replace(incoming, live)
            with suppress(FileNotFoundError):
                os.remove(os.path.join(live, SNAPSHOT_MARKER))
        elif os.path.isdir(incoming):
            # a restore() that crashed before discarding the live tree; the
            # next snapshot/restore cycle would reap the staged payload
            warnings.warn(f"{incoming}: unfinished restore of {_staged_snapshot(incoming)} "
                          "beside the live warehouse; re-run restore() on it or remove it")
        # manifests live under root in BOTH modes (Iceberg holds the data,
        # the resume contract still needs its JSON sidecars)
        os.makedirs(self.root, exist_ok=True)

    # ---------------- paths / names ----------------
    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root, f"_manifest_{name}.json")

    # ---------------- read / write ----------------
    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: tuple[str, ...] = ()) -> int:
        """partition_by: hive-style partition columns (Iceberg: identity
        partition spec) — readers filtering on them get partition PRUNING,
        not just row-group skipping (e.g. features by `kind`: each verify
        channel reads half the table; plan-asserted in test_plans)."""
        t0 = time.time()
        if self.use_iceberg:
            w = df.writeTo(f"local.db.{name}")
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            # honor mode: createOrReplace() on an append would TRUNCATE the
            # history table down to the delta — fold_delta/grow_index append
            # features/transcripts/confirmed_pairs, and the snapshot/restore
            # guard is parquet-only, so nothing would catch the loss
            # (ADVICE r7 #1).  Iceberg's append() requires the table to
            # exist; fall back to create for a first write under append.
            if mode == "append":
                if self.spark.catalog.tableExists(f"local.db.{name}"):
                    w.append()
                else:
                    w.create()
            else:
                w.createOrReplace()
            n = self.spark.read.table(f"local.db.{name}").count()
        else:
            w = df.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self._path(name))
            n = sum(self.file_rows(name))
        self._write_manifest(name, n, t0)
        return n

    def _write_manifest(self, name: str, rows: int, t0: float) -> None:
        with open(self._manifest_path(name), "w") as f:
            json.dump({"table": name, "run_id": self.run_id, "params_hash": self.cfg.params_hash,
                       "rows": rows, "wall_sec": round(time.time() - t0, 3), "ts": time.time()}, f)

    def replace(self, df: DataFrame, name: str,
                partition_by: tuple[str, ...] = ()) -> int:
        """Overwrite ``name`` with a plan that may READ ``name`` (e.g. the
        incremental cluster merge reads the old assignment).  Iceberg's
        createOrReplace is snapshot-isolated so the plain write is safe;
        parquet mode lands the result beside the table and swaps
        directories, because overwriting a path a lazy plan still scans
        corrupts the read."""
        if self.use_iceberg:
            return self.write(df, name, partition_by=partition_by)
        t0 = time.time()
        tmp = f"{name}__tmp"
        n = self.write(df, tmp, partition_by=partition_by)
        shutil.rmtree(self._path(name), ignore_errors=True)
        os.replace(self._path(tmp), self._path(name))
        os.remove(self._manifest_path(tmp))
        self._write_manifest(name, n, t0)
        return n

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(f"local.db.{name}")
        return self.spark.read.parquet(self._path(name))

    def file_rows(self, name: str) -> list[int]:
        """Rows in each data file of table ``name``, in path order.  Parquet
        mode reads the footers on the driver (no Spark job), listing the
        files Spark's reader would read; Iceberg mode reads the table's
        ``files`` metadata table."""
        if self.use_iceberg:
            files = self.spark.read.table(f"local.db.{name}.files")
            return [r[0] for r in files.orderBy("file_path").select("record_count").collect()]
        rows = []
        for d, dirs, files in os.walk(self._path(name)):
            dirs[:] = sorted(x for x in dirs if _listed(x))
            rows += [pq.read_metadata(os.path.join(d, f)).num_rows
                     for f in sorted(files) if _listed(f)]
        return rows

    # ---------------- snapshot / restore (parquet-mode fold atomicity) ----
    # The plain-parquet analog of rolling Iceberg tables back to a pre-fold
    # snapshot: a multi-table update (incremental.fold_delta) is not atomic
    # across tables, so the job snapshots first and restores on failure.
    # Payload files are HARDLINKED (immutable once written: appends create
    # new files, wh.replace swaps directory entries — neither touches a
    # shared inode), while the *.json manifests are byte-copied because
    # wh.write rewrites them IN PLACE, which through a hardlink would
    # corrupt the snapshot.
    def snapshot(self, tag: str = "pre_fold") -> str:
        snap = f"{self.root.rstrip('/')}.__snapshot_{tag}"
        shutil.rmtree(snap, ignore_errors=True)
        shutil.copytree(self.root, snap, copy_function=os.link,
                        ignore=shutil.ignore_patterns(SNAPSHOT_MARKER))
        for entry in os.listdir(snap):
            if entry.endswith(".json"):
                p = os.path.join(snap, entry)
                os.unlink(p)
                shutil.copyfile(os.path.join(self.root, entry), p)
        with open(os.path.join(snap, SNAPSHOT_MARKER), "w") as f:
            f.write(os.path.abspath(snap))
        return snap

    def restore(self, snap: str) -> None:
        """Discard the live warehouse and promote the snapshot.  Two
        directory renames cannot be one atomic op, so the snapshot is
        first staged under a FIXED ``<root>.__restore_incoming`` name:
        a crash before the live tree is discarded loses nothing (live
        intact, restore rerunnable from the staged payload), and a crash
        after it leaves the discoverable incoming dir that
        ``__post_init__`` promotes on the next open (ADVICE r7 #3).  A
        staged payload is resumed only when its marker names ``snap``, so
        a wrong or already-dropped snap path raises instead of promoting
        some earlier restore's leftover."""
        live = self.root.rstrip("/")
        incoming = f"{live}.__restore_incoming"
        trash = f"{live}.__restore_trash"
        if os.path.isdir(snap):
            shutil.rmtree(incoming, ignore_errors=True)
            os.replace(snap, incoming)
        elif _staged_snapshot(incoming) != os.path.abspath(snap):
            raise FileNotFoundError(f"no snapshot at {snap}")
        shutil.rmtree(trash, ignore_errors=True)
        if os.path.isdir(live):
            os.replace(live, trash)
        os.replace(incoming, live)
        with suppress(FileNotFoundError):
            os.remove(os.path.join(live, SNAPSHOT_MARKER))
        shutil.rmtree(trash, ignore_errors=True)

    def drop_snapshot(self, snap: str) -> None:
        shutil.rmtree(snap, ignore_errors=True)

    def exists(self, name: str) -> bool:
        """True iff the table was completely written under the SAME config."""
        mp = self._manifest_path(name)
        if not os.path.exists(mp):
            return False
        try:
            with open(mp) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return m.get("params_hash") == self.cfg.params_hash

    def manifest(self, name: str) -> dict | None:
        mp = self._manifest_path(name)
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            return json.load(f)

    # ---------------- config table ----------------
    def write_config(self) -> None:
        """Persist the frozen Config next to the data (CONSULT's _meta
        contract: search reads masks back instead of trusting flags,
        main_search.cpp:164-381)."""
        pdf = self.spark.createDataFrame(
            [(self.cfg.params_hash, self.cfg.to_json())], "params_hash string, config_json string"
        )
        self.write(pdf, "config")

    def read_config(self) -> Config:
        row = self.read("config").head()
        cfg = Config.from_json(row["config_json"])
        if cfg.params_hash != self.cfg.params_hash:
            raise ValueError(
                f"warehouse built with params_hash={cfg.params_hash}, "
                f"session configured with {self.cfg.params_hash}; refusing to mix"
            )
        return cfg


def open_warehouse(spark: SparkSession, root: str, cfg: Config | None = None) -> Warehouse:
    """Open an existing warehouse under the Config it was built with (its
    ``config`` table), the way CONSULT reads _meta back and runs with it
    (main_search.cpp:164-381): an index built under any Config is usable
    without the caller reconstructing it, and ``exists`` compares
    manifests with the stored params_hash.  An explicitly passed ``cfg``
    that conflicts with the stored one is refused rather than silently
    mixing shingle/signature parameters."""
    wh = Warehouse(spark, root, cfg or Config())
    stored = Config.from_json(wh.read("config").head()["config_json"])
    if cfg is not None and cfg.params_hash != stored.params_hash:
        raise ValueError(
            f"index built with params_hash={stored.params_hash}, caller "
            f"explicitly passed {cfg.params_hash}; refusing to mix"
        )
    wh.cfg = stored
    return wh
