"""Snapshot-versioned Parquet tables with an Iceberg-shaped interface.

The north rule wants crawl state (frontier, seen shards, robots cache)
checkpointed to Iceberg snapshots so a killed job resumes mid-frontier.
This sandbox has no Iceberg jars, so the engine ships a minimal
table-format layer with the same *operations* — append / overwrite /
read-at-snapshot / rollback — backed by plain Parquet directories plus an
atomically-committed JSON manifest. Every call site goes through this
interface, so swapping in `spark.table("catalog.db.t")` + `writeTo(...)`
when Iceberg is on the classpath is a one-file change.

Layout per table::

    <root>/<table>/
        _manifest.json          # {"snapshots": [{"id", "mode", "dir", "wave"}]}
        snap=00000001/part-*.parquet
        snap=00000002/<partition>=<value>/part-*.parquet

Commit protocol: data dir is fully written first — by a Spark job for a
DataFrame, or on the driver as one ``part-00000.parquet`` for a
``pyarrow.Table`` (the crawler's one-row bookkeeping snapshots) — then
the manifest is replaced via os.replace (atomic on POSIX). A reader only
sees snapshots listed in the manifest, so a killed writer leaves at most
an orphan data dir — never a torn table. That is the resumability contract the crawl
wave loop relies on (SURVEY.md §4.3 "Resumable crawl state").
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST = "_manifest.json"


def _data_files(path: str) -> list[str]:
    """A snapshot dir's parquet data files, partition subdirs included
    (not Spark's ``_SUCCESS`` or ``.crc`` side files)."""
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _live(snaps: list[dict]) -> list[dict]:
    """The snapshots a read sees: the last overwrite plus later appends."""
    start = max((i for i, s in enumerate(snaps) if s["mode"] == "overwrite"), default=0)
    return snaps[start:]


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # per-table commit lock: run_wave commits tables concurrently
        # from a ThreadPoolExecutor — today those writes hit disjoint
        # tables, but the manifest read-modify-write must not silently
        # drop a snapshot if a same-table concurrent write ever appears
        # (Iceberg's optimistic manifest swap plays the same role)
        self._locks: dict[str, threading.Lock] = {}

    # -- manifest helpers ---------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), _MANIFEST)

    def _load_manifest(self, name: str) -> dict:
        path = self._manifest_path(name)
        if not os.path.exists(path):
            return {"snapshots": []}
        with open(path) as f:
            return json.load(f)

    def _commit_manifest(self, name: str, manifest: dict) -> None:
        path = self._manifest_path(name)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)  # atomic commit

    def _retain(self, name: str, keep) -> None:
        """Commit a manifest of the snapshots ``keep`` accepts, then remove
        the other snapshots' data dirs (readers only see the manifest)."""
        snaps = self._load_manifest(name)["snapshots"]
        self._commit_manifest(name, {"snapshots": [s for s in snaps if keep(s)]})
        for s in snaps:
            if not keep(s):
                shutil.rmtree(os.path.join(self._table_dir(name), s["dir"]), ignore_errors=True)

    # -- public API (Iceberg-shaped) ----------------------------------------
    def exists(self, name: str) -> bool:
        return bool(self._load_manifest(name)["snapshots"])

    def snapshots(self, name: str) -> list[dict]:
        return self._load_manifest(name)["snapshots"]

    def current_snapshot_id(self, name: str) -> int | None:
        snaps = self.snapshots(name)
        return snaps[-1]["id"] if snaps else None

    def write(
        self,
        name: str,
        df: DataFrame | pa.Table,
        mode: str = "append",
        wave: int | None = None,
        partition_by: list[str] | None = None,
        skip_empty: bool = False,
    ) -> int | None:
        """Append or overwrite; returns the new snapshot id.

        The snapshot's data dir is fully written before the manifest
        swap: by a Spark job for a DataFrame, or on the driver as one
        parquet file for a ``pyarrow.Table`` (no Spark job, no Python
        task: the crawl's one-row wave marker and Bloom bitset). A table
        cannot be partitioned.

        ``wave`` stamps crawl-wave lineage on the snapshot so resume can
        find the last consistent wave across tables. ``partition_by``
        hive-partitions the snapshot's files (the stand-in for Iceberg's
        partition spec — e.g. records PARTITIONED BY (state, layout),
        pages by day, FIXTURES.md §1.1) so scans with partition
        predicates prune files. An append must keep the live snapshots'
        spec; an overwrite may change it.

        ``skip_empty`` commits nothing and returns None when the written
        files hold no rows, read from their parquet footers on the
        driver: the caller learns emptiness without a counting job.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
        if partition_by and isinstance(df, pa.Table):
            raise ValueError(f"table {name!r}: a pyarrow.Table snapshot cannot be partitioned")
        # dict.setdefault is atomic under the GIL (defaultdict's
        # __missing__ is not), so two racing first-writers get ONE lock
        with self._locks.setdefault(name, threading.Lock()):
            manifest = self._load_manifest(name)
            live = _live(manifest["snapshots"])
            spec = live[-1].get("partition_by") if live else None
            if mode == "append" and live and list(spec or []) != list(partition_by or []):
                raise ValueError(  # one scan reads one dir layout per live set
                    f"table {name!r}: append with partition spec {partition_by} "
                    f"but the live snapshots use {spec}"
                )
            snap_id = (manifest["snapshots"][-1]["id"] + 1) if manifest["snapshots"] else 1
            snap_dir = f"snap={snap_id:08d}"
            path = os.path.join(self._table_dir(name), snap_dir)
            if isinstance(df, pa.Table):
                # a killed writer may have left an orphan dir here; clear
                # it as Spark's overwrite mode does
                shutil.rmtree(path, ignore_errors=True)
                os.makedirs(path)
                pq.write_table(df, os.path.join(path, "part-00000.parquet"))
            else:
                writer = df.write.mode("overwrite")
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.parquet(path)
            if skip_empty and not any(pq.read_metadata(f).num_rows for f in _data_files(path)):
                shutil.rmtree(path, ignore_errors=True)
                return None
            manifest["snapshots"].append(
                {
                    "id": snap_id,
                    "mode": mode,
                    "dir": snap_dir,
                    "wave": wave,
                    "partition_by": partition_by,
                }
            )
            self._commit_manifest(name, manifest)
            return snap_id

    def read(
        self,
        spark: SparkSession,
        name: str,
        snapshot: int | None = None,
        schema: StructType | None = None,
        since: int | None = None,
    ) -> DataFrame:
        """Read table state as of ``snapshot`` (default: current).

        State = the last overwrite at or before the requested snapshot plus
        every later append (Iceberg time travel over append/replace
        snapshots), read as one scan over the live snapshot dirs.
        ``since`` keeps only the live snapshots newer than that id: the
        rows they added (Iceberg's incremental read).
        """
        snaps = self.snapshots(name)
        if snapshot is not None:
            snaps = [s for s in snaps if s["id"] <= snapshot]
        live = _live(snaps)
        if since is not None:
            live = [s for s in live if s["id"] > since]
        if not live:
            if schema is None:
                raise ValueError(f"table {name!r} is empty and no schema given")
            # a false filter makes the emptiness optimizer-visible (it
            # prunes to an empty LocalRelation): a join against an empty
            # table — the first crawl wave's pending anti-join — then
            # plans away instead of shuffling an opaque empty RDD scan
            return spark.createDataFrame([], schema).where("false")
        # snap=<id> dirs under basePath are one more hive partition level,
        # so the live set is one FileScan whatever its depth; partition
        # columns named in ``schema`` take the schema's type
        table_dir = self._table_dir(name)
        paths = [os.path.join(table_dir, s["dir"]) for s in live]
        reader = spark.read.option("basePath", table_dir)
        if schema is None:
            return reader.parquet(*paths).drop("snap")
        return reader.schema(schema).parquet(*paths).select(*schema.fieldNames())

    def snapshot_rows(self, name: str, snapshot: int) -> int:
        """Rows in one snapshot's own files, summed from their parquet
        footers on the driver: no Spark job."""
        (snap,) = [s for s in self.snapshots(name) if s["id"] == snapshot]
        path = os.path.join(self._table_dir(name), snap["dir"])
        return sum(pq.read_metadata(f).num_rows for f in _data_files(path))

    def rollback(self, name: str, snapshot: int) -> None:
        """Drop snapshots newer than ``snapshot`` (crash-recovery path)."""
        self._retain(name, lambda s: s["id"] <= snapshot)

    def last_wave(self, name: str) -> int | None:
        """Highest wave id committed for this table (resume bookkeeping)."""
        waves = [s.get("wave") for s in self.snapshots(name) if s.get("wave") is not None]
        return max(waves) if waves else None

    def compact(self, spark: SparkSession, name: str, wave: int | None = None) -> int:
        """Rewrite the table's live state as one overwrite snapshot
        (Iceberg's rewrite_data_files analog). Long crawls append one
        snapshot per wave per table, each with its own small files;
        periodic compaction cuts the file count a read lists and opens.
        Keeps the last snapshot's partition spec.
        Old snapshot dirs are retired from the manifest (readers only see
        the manifest) and removed.

        ``wave`` defaults to the table's last committed wave: resume()
        rolls back any snapshot whose wave exceeds the last wave marker
        and treats wave=None as uncommitted, so an unstamped compaction
        snapshot would be rolled back — deleting the table's only data."""
        snaps = self.snapshots(name)
        if not snaps:
            raise ValueError(f"table {name!r} is empty")
        if wave is None:
            wave = self.last_wave(name)
        partition_by = snaps[-1].get("partition_by")
        current = self.read(spark, name)
        snap_id = self.write(
            name, current, mode="overwrite", wave=wave, partition_by=partition_by
        )
        self._retain(name, lambda s: s["id"] >= snap_id)
        return snap_id

    def drop(self, name: str) -> None:
        shutil.rmtree(self._table_dir(name), ignore_errors=True)
