"""Iceberg-style snapshot log over parquet — versioned tables with
atomic commits, time travel, and rollback.

The north rule materializes pipeline outputs "as partitioned Iceberg
outputs ... with Iceberg-snapshot checkpoints". The Iceberg LIBRARY is
not available in this environment, so this module re-implements the
three load-bearing semantics of its format (spec: iceberg.apache.org,
v2 table spec) directly over parquet + a JSON metadata log:

1. **File-manifest reads.** A snapshot is an immutable list of data
   FILES (path, size, row count). Readers plan scans from the manifest,
   never from directory listings (at millions of files, a millisecond
   plan instead of a minutes-long S3 LIST storm). Orphan files from
   crashed commits are absent from every manifest, hence invisible.
2. **Atomic pointer swap.** A commit puts its data files into a fresh
   ``data/snap-N``, writes its immutable snapshot JSON, and only then
   swaps ``metadata/_current`` via a Hadoop-FS rename (atomic on HDFS
   and local file systems). A reader sees the old table or the new
   one; a crash at ANY point before the swap leaves the table unchanged.
3. **Time travel + rollback.** Every snapshot stays readable by id
   (``read(snapshot_id=N)``) until ``expire_snapshots`` (the one
   destructive op) drops it; ``rollback(N)`` is a pointer swap to an
   old snapshot, no data rewritten.

A commit's files come from one of three places: ``overwrite`` and
``append`` write a DataFrame (``append`` also reuses the parent's file
list, so a micro-batch costs its new files plus one small JSON);
``adopt`` takes parquet files another writer already wrote (a pipeline
stage's) by HARD LINK, so nothing is rewritten. The snapshot's link and
the writer's name share the bytes: a later rewrite of the writer's
directory unlinks only its own names, ``expire_snapshots`` only the
snapshot's. Where no hard link can be made (another device, a non-local
URI) ``adopt`` falls back to rewriting the rows through ``overwrite``.

**Single-writer assumption.** Commits are crash-safe but not
concurrency-safe: two drivers committing to the same root can race the
id probe (Iceberg serializes commits through a catalog
compare-and-swap; a multi-driver deployment needs a lock or catalog).
Readers only follow the atomically-swapped pointer to immutable files,
so commits never disturb them; ``expire_snapshots`` must not run under
live time-travel readers of the snapshots it expires.

Reference anchor: the reference's resumability is per-artifact
``path.is_file()`` checks (struct.py:1354, getters.py:166-176); this is
the same contract lifted to versioned-table semantics.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import time
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from .footers import data_files, local_path, summarize_files


def _link_files(paths: list[str], directory: str) -> None:
    """Hard-link each of ``paths`` into the new directory ``directory``.
    OSError where that cannot be done (another device, a non-local
    URI); a directory made for it is removed again."""
    local = local_path(directory)
    if "://" in local:
        raise OSError(errno.EXDEV, "not a local path", directory)
    target = Path(local)
    target.mkdir(parents=True)
    try:
        for p in paths:
            os.link(p, target / Path(p).name)
    except OSError:
        shutil.rmtree(target)
        raise


class SnapshotTable:
    """A versioned parquet table at ``root`` (any Hadoop-FS URI)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._meta_dir = f"{self.root}/metadata"
        self._jvm = jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._Path(self.root).getFileSystem(conf)
        # FileContext gives a TRUE atomic overwrite rename (Rename
        # .OVERWRITE) — FileSystem.rename refuses an existing target, and
        # delete-then-rename opens a window where a crash loses the
        # pointer and a reader sees a missing file
        self._fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
        rename = jvm.org.apache.hadoop.fs.Options.Rename
        self._overwrite_opt = spark.sparkContext._gateway.new_array(rename, 1)
        self._overwrite_opt[0] = rename.OVERWRITE

    # ------------------------------------------------------ fs helpers --
    def _exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def _ls(self, directory: str) -> list:
        """Hadoop statuses of ``directory``'s entries, markers and
        checksums (``_*``, ``.*``) left out."""
        return [
            st for st in self._fs.listStatus(self._Path(directory))
            if not st.getPath().getName().startswith(("_", "."))
        ]

    def _read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        try:
            io = self._jvm.org.apache.commons.io.IOUtils
            return bytes(io.toByteArray(stream)).decode("utf-8")
        finally:
            stream.close()

    def _write_text_atomic(self, path: str, text: str) -> None:
        """Write to a temp sibling then overwrite-rename — the commit
        point, one atomic operation on HDFS and local file systems (on
        object stores an Iceberg deployment swaps through a catalog)."""
        tmp = f"{path}.tmp-{int(time.time() * 1000)}"
        stream = self._fs.create(self._Path(tmp), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()
        self._fc.rename(
            self._Path(tmp), self._Path(path), self._overwrite_opt
        )

    # ------------------------------------------------------ metadata ----
    def _snapshot_path(self, snapshot_id: int) -> str:
        return f"{self._meta_dir}/snap-{snapshot_id:08d}.json"

    def _snapshot_ids(self) -> list[int]:
        """Ids of every snapshot JSON in the metadata log."""
        names = [st.getPath().getName() for st in self._ls(self._meta_dir)]
        return [
            int(n[5:-5]) for n in names
            if n.startswith("snap-") and n.endswith(".json")
        ]

    def current_snapshot_id(self) -> int | None:
        ptr = f"{self._meta_dir}/_current"
        if self._exists(ptr):
            return int(self._read_text(ptr).strip())
        # pointer externally removed → recover to the LATEST committed
        # snapshot from the metadata log (Iceberg's version-hint fallback)
        if not self._exists(self._meta_dir):
            return None
        return max(self._snapshot_ids(), default=None)

    def _load_snapshot(self, snapshot_id: int) -> dict[str, Any]:
        path = self._snapshot_path(snapshot_id)
        if not self._exists(path):
            # same error contract as rollback(): a bad time-travel id is
            # a ValueError, not an opaque py4j FileNotFound traceback
            raise ValueError(f"unknown snapshot {snapshot_id}")
        return json.loads(self._read_text(path))

    def history(self) -> list[dict[str, Any]]:
        """Snapshot log, oldest first, following parent pointers from
        the current snapshot (rolled-back-over snapshots are reachable
        by id but not part of the current lineage — Iceberg's model)."""
        sid = self.current_snapshot_id()
        chain: list[dict[str, Any]] = []
        while sid is not None:
            try:
                snap = self._load_snapshot(sid)
            except ValueError:
                break  # parent expired by expire_snapshots: chain ends
            chain.append(
                {
                    "snapshot_id": snap["snapshot_id"],
                    "parent_id": snap["parent_id"],
                    "operation": snap["operation"],
                    "n_files": len(snap["files"]),
                    "n_rows": snap["summary"]["n_rows"],
                    "committed_at": snap["committed_at"],
                }
            )
            sid = snap["parent_id"]
        return list(reversed(chain))

    # ------------------------------------------------------ commits -----
    def _last_minted_id(self) -> int:
        ptr = f"{self._meta_dir}/_last_id"
        return int(self._read_text(ptr).strip()) if self._exists(ptr) else 0

    def _commit(self, operation: str, fill: Callable[[str], None]) -> int:
        """Commit one snapshot: mint its id, have ``fill`` put its data
        files into the fresh directory ``data/snap-N``, then publish the
        files that are there. An error of ``fill`` propagates before
        any metadata is written."""
        parent = self.current_snapshot_id()
        # ids are NEVER reused (across rollbacks, crashed commits and
        # expiry): a reused id would resolve stored references (markers,
        # noted time-travel ids) to DIFFERENT content. The _last_id
        # high-water mark survives expiry; the existence probes cover
        # older tables and crash leftovers.
        new_id = max((parent or 0), self._last_minted_id()) + 1
        while self._exists(self._snapshot_path(new_id)) or self._exists(
            f"{self.root}/data/snap-{new_id:08d}"
        ):
            new_id += 1
        data_dir = f"{self.root}/data/snap-{new_id:08d}"
        fill(data_dir)
        files = [
            {"path": f"{data_dir}/{st.getPath().getName()}",
             "size_bytes": int(st.getLen())}
            for st in self._ls(data_dir)
        ]
        # the row count comes from the files' parquet FOOTERS (driver-side
        # metadata, no job); non-local filesystems fall back to a count
        footer = summarize_files(f["path"] for f in files)
        n_rows = (
            footer[0]
            if footer is not None
            else self.spark.read.parquet(data_dir).count()
        )
        if operation == "append" and parent is not None:
            parent_snap = self._load_snapshot(parent)
            files = parent_snap["files"] + files
            n_rows += parent_snap["summary"]["n_rows"]
        snap = {
            "snapshot_id": new_id,
            "parent_id": parent,
            "operation": operation,
            "files": files,
            "summary": {"n_rows": n_rows, "n_files": len(files)},
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        # high-water mark first (a crash after this merely skips ids),
        # snapshot JSON second (immutable), pointer swap LAST — the only
        # mutation readers can observe is the atomic rename
        self._write_text_atomic(f"{self._meta_dir}/_last_id", str(new_id))
        self._write_text_atomic(
            self._snapshot_path(new_id), json.dumps(snap, indent=1)
        )
        self._write_text_atomic(f"{self._meta_dir}/_current", str(new_id))
        return new_id

    def overwrite(self, df: DataFrame) -> int:
        """Commit ``df`` as the table's new full contents."""
        return self._commit("overwrite", df.write.mode("error").parquet)

    def append(self, df: DataFrame) -> int:
        """Commit ``df``'s rows on top of the current snapshot. The
        parent's data files are REUSED in the new manifest — a
        micro-batch append to a huge table writes only the new files."""
        return self._commit("append", df.write.mode("error").parquet)

    def adopt(self, directory: str, df: DataFrame) -> int:
        """Commit the parquet files of ``directory``, which ``df`` reads,
        as the table's new full contents without rewriting them: each
        data file is hard-linked into the snapshot's directory. Where
        no hard link can be made (another device, a non-local URI),
        ``df`` is rewritten through :meth:`overwrite` instead."""
        try:
            files = data_files(directory)
            return self._commit("overwrite", lambda d: _link_files(files, d))
        except OSError:
            return self.overwrite(df)

    def rollback(self, snapshot_id: int) -> None:
        """Point the table back at an earlier snapshot. Metadata-only;
        no data moves, later snapshots stay readable by id (until a
        subsequent ``expire_snapshots`` drops them)."""
        if not self._exists(self._snapshot_path(snapshot_id)):
            raise ValueError(f"unknown snapshot {snapshot_id}")
        self._write_text_atomic(f"{self._meta_dir}/_current", str(snapshot_id))

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, int]:
        """Iceberg's table-maintenance op: drop all snapshots except the
        last ``keep_last`` of the CURRENT lineage (the current snapshot
        is always kept; rollback branches outside the kept set go too),
        deleting the data files no surviving snapshot names. ``append``
        shares files across snapshots, so a file is reclaimed only once
        every snapshot naming it is expired (Iceberg's reference
        counting); an adopted file loses only the snapshot's hard link.
        Returns counts for observability.

        The module's ONE destructive operation: a concurrent reader
        holding a time-travel DataFrame on an expired snapshot fails
        mid-scan (as with Iceberg's) — run it when no time-travel
        readers are live."""
        if keep_last < 1:
            # [-0:] would slice to the FULL history (keeping everything)
            # and negative values expire from the wrong end — both are
            # caller bugs, and the current snapshot can never be expired
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        current = self.current_snapshot_id()
        if current is None:
            return {"expired_snapshots": 0, "deleted_files": 0}
        keep_ids = {h["snapshot_id"] for h in self.history()[-keep_last:]}
        keep_ids.add(current)
        kept_files = set()
        for sid in keep_ids:
            kept_files.update(
                f["path"] for f in self._load_snapshot(sid)["files"]
            )
        n_expired = n_deleted = 0
        for sid in sorted(self._snapshot_ids()):
            if sid in keep_ids:
                continue
            snap_dirs = set()
            for f in self._load_snapshot(sid)["files"]:
                if f["path"] not in kept_files and self._exists(f["path"]):
                    self._fs.delete(self._Path(f["path"]), False)
                    n_deleted += 1
                snap_dirs.add(f["path"].rsplit("/", 1)[0])
            # drop data dirs left with no visible files (write markers
            # like _SUCCESS only) — kept-file dirs are left alone
            for d in snap_dirs:
                if self._exists(d) and not self._ls(d):
                    self._fs.delete(self._Path(d), True)
            # data files first, JSON last: a crash mid-expire leaves a
            # snapshot whose manifest names missing files (unreadable,
            # like Iceberg's) but never a dangling pointer — and the
            # kept snapshots are untouched either way
            self._fs.delete(self._Path(self._snapshot_path(sid)), False)
            n_expired += 1
        return {"expired_snapshots": n_expired, "deleted_files": n_deleted}

    # ------------------------------------------------------ reads -------
    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """The table at ``snapshot_id`` (default: current). The scan is
        planned from the manifest's file list — orphans from crashed
        commits and files of OTHER snapshots are never touched."""
        sid = snapshot_id if snapshot_id is not None else (
            self.current_snapshot_id()
        )
        if sid is None:
            raise ValueError(f"table {self.root} has no committed snapshot")
        snap = self._load_snapshot(sid)
        paths = [f["path"] for f in snap["files"]]
        if not paths:
            raise ValueError(f"snapshot {sid} is empty")
        return self.spark.read.parquet(*paths)
