"""Iceberg-style snapshot commit log over parquet tables: atomic commits,
time travel, rollback, and snapshot expiry.

The north rule requires the pipeline to be "resumable from Iceberg
snapshot checkpoints" (BASELINE.json:6); this sandbox has no Iceberg
runtime jar, so this module implements the part of the Iceberg table
format the engine actually relies on — an immutable, append-only
manifest log with an atomically-swapped current-snapshot pointer:

* data files are immutable: every write lands in a fresh directory,
  exactly like Iceberg data files;
* a manifest ``snap-<id>.json`` lists the EXACT file set visible at that
  snapshot (append commits inherit the parent's files);
* commit = write manifest to a temp name + ``os.replace`` (atomic on
  POSIX), then swap the ``current.json`` pointer the same way. A crash
  between the two leaves an orphan manifest that is never visible and
  whose id is burned, never reused — readers can never observe a torn
  state;
* readers load a snapshot's explicit file list (``basePath`` keeps
  partition columns intact), so time travel is just "read an older
  manifest" and rollback is a NEW commit that re-publishes an old file
  set — history is never rewritten.

Driver-side metadata IO is a handful of tiny JSON files per commit —
the data path stays fully distributed. (At 10^12 documents the file
LIST itself gets large; Iceberg splits it into per-commit avro manifest
files + a manifest list for exactly that reason — this JSON log is the
same protocol with one flat level.) A real deployment swaps this for
``df.writeTo(...)`` against an Iceberg catalog; the engine API
(commit_write / read / rollback / expire) is the stable surface.
Single-writer by design (the pipeline driver); Iceberg's optimistic
catalog CAS is the multi-writer upgrade path.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

_SNAP_RE = re.compile(r"^snap-(\d+)\.json$")


class ManifestLog:
    """The bare commit log: numbered immutable manifests + an atomic
    current pointer. Knows nothing about data files' contents — callers
    decide what a manifest's ``files`` list means. A manifest's
    ``buckets`` field is the sorted list of url buckets whose data the
    snapshot includes (GraphWriter's one record that a bucket is done);
    a commit that passes no list inherits the parent's."""

    def __init__(self, meta_dir: str):
        self.meta_dir = meta_dir
        os.makedirs(meta_dir, exist_ok=True)

    def _pointer_path(self) -> str:
        return os.path.join(self.meta_dir, "current.json")

    def current_id(self) -> int | None:
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)["snapshot_id"]
        except FileNotFoundError:
            return None

    def manifest_ids(self) -> list[int]:
        out = []
        for name in os.listdir(self.meta_dir):
            m = _SNAP_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.meta_dir, f"snap-{snapshot_id}.json")) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        """Committed (reachable-from-current) snapshots, oldest first.
        Orphan manifests from a crashed commit are excluded."""
        cur = self.current_id()
        out: list[dict] = []
        while cur is not None:
            m = self.manifest(cur)
            out.append(m)
            cur = m["parent_id"]
        return list(reversed(out))

    def atomic_json(self, path: str, payload: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)

    def next_id(self) -> int:
        # advance past every manifest on disk, including orphans from a
        # crash between manifest write and pointer swap — an orphan's id
        # is burned so its files can't shadow a live commit
        ids = self.manifest_ids()
        return (ids[-1] + 1) if ids else 1

    def expire(self, keep_last: int = 1) -> list[int]:
        """Metadata-only snapshot expiry: drop all but the last
        ``keep_last`` reachable manifests plus any orphans older than
        the kept window, and re-root the oldest kept manifest
        (parent_id → None) so :meth:`history` never walks into a
        deleted file. Callers that also own data files (GraphWriter
        compaction, :class:`SnapshotTable`) pair this with their own
        file reclamation. Returns the expired snapshot ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        hist = self.history()
        keep, drop = hist[-keep_last:], hist[:-keep_last]
        kept_ids = {m["snapshot_id"] for m in keep}
        reachable = {m["snapshot_id"] for m in hist}
        expired = [m["snapshot_id"] for m in drop]
        expired += [
            sid for sid in self.manifest_ids()
            if sid not in reachable and sid < min(kept_ids, default=0)
        ]
        for sid in expired:
            os.remove(os.path.join(self.meta_dir, f"snap-{sid}.json"))
        if keep and keep[0]["parent_id"] is not None:
            oldest = dict(keep[0], parent_id=None)
            self.atomic_json(
                os.path.join(
                    self.meta_dir, f"snap-{oldest['snapshot_id']}.json"),
                oldest,
            )
        return sorted(expired)

    def buckets(self) -> list[int]:
        """The current snapshot's ``buckets`` list ([] before any commit)."""
        cur = self.current_id()
        return [] if cur is None else self.manifest(cur).get("buckets", [])

    def commit(self, files: list[str], operation: str, summary: dict | None = None,
               buckets: set[int] | None = None) -> int:
        snap_id = self.next_id()
        self.atomic_json(
            os.path.join(self.meta_dir, f"snap-{snap_id}.json"),
            {
                "snapshot_id": snap_id,
                "parent_id": self.current_id(),
                "operation": operation,
                "summary": summary or {},
                "files": files,
                "buckets": sorted(self.buckets() if buckets is None else buckets),
            },
        )
        self.atomic_json(self._pointer_path(), {"snapshot_id": snap_id})
        return snap_id


class SnapshotTable:
    """One logical table backed by immutable parquet files + a ManifestLog."""

    def __init__(self, root: str):
        self.root = root
        self.log = ManifestLog(os.path.join(root, "_snapshots"))
        self._data = os.path.join(root, "data")
        os.makedirs(self._data, exist_ok=True)

    # -- log passthroughs -------------------------------------------------
    def current_id(self) -> int | None:
        return self.log.current_id()

    def manifest(self, snapshot_id: int) -> dict:
        return self.log.manifest(snapshot_id)

    def history(self) -> list[dict]:
        return self.log.history()

    # -- commits ----------------------------------------------------------
    def commit_write(
        self,
        df: DataFrame,
        mode: str = "append",
        operation: str | None = None,
        summary: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Write ``df`` as a new immutable file set and commit a snapshot
        making it visible: ``append`` unions the parent's files,
        ``overwrite`` replaces them. Returns the new snapshot id."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite: {mode}")
        snap_id = self.log.next_id()
        parent = self.log.current_id()

        out_dir = os.path.join(self._data, f"snap-{snap_id}")
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out_dir)
        files = self._list_parquet(out_dir)
        if mode == "append" and parent is not None:
            files = self.manifest(parent)["files"] + files

        # the data write above may have burned wall time; re-derive the id
        # defensively (single-writer, so next_id is unchanged — this is an
        # assertion of that invariant, not concurrency handling)
        assert self.log.next_id() == snap_id, "concurrent writer detected"
        return self.log.commit(files, operation or mode, summary)

    def rollback(self, to_snapshot_id: int) -> int:
        """Re-publish an older snapshot's file set as a NEW commit (like
        Iceberg's rollback: history moves forward, files don't move)."""
        old = self.manifest(to_snapshot_id)
        return self.log.commit(
            old["files"], "rollback", {"to_snapshot_id": to_snapshot_id}
        )

    def _list_parquet(self, out_dir: str) -> list[str]:
        files = []
        for dirpath, _, names in os.walk(out_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files.append(
                        os.path.relpath(os.path.join(dirpath, n), self.root)
                    )
        return sorted(files)

    # -- reads ------------------------------------------------------------
    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Read the table AS OF a snapshot (default: current). The explicit
        file list makes old snapshots readable after later commits; the
        basePath option preserves partition-directory columns."""
        sid = snapshot_id if snapshot_id is not None else self.current_id()
        if sid is None:
            raise ValueError(f"no committed snapshot at {self.root}")
        files = [os.path.join(self.root, f) for f in self.manifest(sid)["files"]]
        if not files:
            raise ValueError(f"snapshot {sid} at {self.root} lists no files")
        return spark.read.option("basePath", self._data).parquet(*files)

    # -- maintenance ------------------------------------------------------
    def compact(self, spark: SparkSession, target_files: int,
                partition_by: list[str] | None = None) -> int:
        """Small-file compaction: rewrite the CURRENT snapshot's rows into
        ``target_files`` files and commit the rewrite as a new snapshot
        (operation='compaction') — contents identical, history intact,
        the old small files reclaimed by the next expire_snapshots().
        The streaming/bucketed writers naturally accrete many small
        files; at scale this is the scheduled maintenance job that keeps
        scan task counts (and parquet footer overhead) bounded."""
        df = self.read(spark).coalesce(target_files)
        before = len(self.manifest(self.current_id())["files"])
        return self.commit_write(
            df, mode="overwrite", operation="compaction",
            summary={"files_before": before, "target_files": target_files},
            partition_by=partition_by,
        )

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Expire snapshots via :meth:`ManifestLog.expire`, then delete
        data directories no surviving manifest references (the vacuum
        that keeps storage bounded at scale). Returns expired snapshot
        ids."""
        expired = self.log.expire(keep_last)
        surviving_files = {
            f for sid in self.log.manifest_ids() for f in self.manifest(sid)["files"]
        }
        live_dirs = {
            f.split(os.sep)[1] for f in surviving_files
            if f.startswith("data" + os.sep) and len(f.split(os.sep)) > 2
        }
        for d in os.listdir(self._data):
            if d not in live_dirs:
                shutil.rmtree(os.path.join(self._data, d), ignore_errors=True)
        return expired
