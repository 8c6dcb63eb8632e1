"""Warehouse I/O: Iceberg when available, plain-Parquet fallback otherwise.

Each logical table lives at ``<warehouse>/<name>`` (Parquet mode) or
``local.db.<name>`` (Iceberg mode).  Every stage write also lands a manifest
JSON — run_id, stage, config params_hash, row count, wall time — which is
what makes runs resumable: a stage whose manifest exists with a matching
params_hash is skipped on resume (the Parquet-mode analog of resuming from
an Iceberg snapshot tag; CONSULT's equivalent contract is the metadata
header that build writes and search refuses to run without,
main_map.cpp:859-946 / main_search.cpp:164-381).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .config import Config
from .session import iceberg_available


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
            try:
                os.replace(incoming, live)
            except FileNotFoundError:
                pass  # a concurrent open healed it between the checks and here
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
            n = self.spark.read.parquet(self._path(name)).count()
        manifest = {
            "table": name,
            "run_id": self.run_id,
            "params_hash": self.cfg.params_hash,
            "rows": n,
            "wall_sec": round(time.time() - t0, 3),
            "ts": time.time(),
        }
        with open(self._manifest_path(name), "w") as f:
            json.dump(manifest, f)
        return n

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
        import shutil

        tmp = f"{name}__tmp"
        n = self.write(df, tmp, partition_by=partition_by)
        shutil.rmtree(self._path(name), ignore_errors=True)
        os.replace(self._path(tmp), self._path(name))
        os.replace(self._manifest_path(tmp), self._manifest_path(name))
        # the manifest carries the table name; rewrite it to match
        with open(self._manifest_path(name)) as f:
            m = json.load(f)
        m["table"] = name
        with open(self._manifest_path(name), "w") as f:
            json.dump(m, f)
        return n

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(f"local.db.{name}")
        return self.spark.read.parquet(self._path(name))

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
        import shutil

        snap = f"{self.root.rstrip('/')}.__snapshot_{tag}"
        shutil.rmtree(snap, ignore_errors=True)
        shutil.copytree(self.root, snap, copy_function=os.link)
        for entry in os.listdir(snap):
            if entry.endswith(".json"):
                p = os.path.join(snap, entry)
                os.unlink(p)
                shutil.copyfile(os.path.join(self.root, entry), p)
        return snap

    def restore(self, snap: str) -> None:
        """Discard the live warehouse and promote the snapshot.  Two
        directory renames cannot be one atomic op, so the snapshot is
        first staged under a FIXED ``<root>.__restore_incoming`` name:
        a crash before the live tree is discarded loses nothing (live
        intact, restore rerunnable from the staged payload), and a crash
        after it leaves the discoverable incoming dir that
        ``__post_init__`` promotes on the next open (ADVICE r7 #3)."""
        import shutil

        live = self.root.rstrip("/")
        incoming = f"{live}.__restore_incoming"
        trash = f"{live}.__restore_trash"
        if os.path.isdir(snap):
            shutil.rmtree(incoming, ignore_errors=True)
            os.replace(snap, incoming)
        elif not os.path.isdir(incoming):
            raise FileNotFoundError(f"no snapshot at {snap}")
        shutil.rmtree(trash, ignore_errors=True)
        if os.path.isdir(live):
            os.replace(live, trash)
        os.replace(incoming, live)
        shutil.rmtree(trash, ignore_errors=True)

    def drop_snapshot(self, snap: str) -> None:
        import shutil

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
