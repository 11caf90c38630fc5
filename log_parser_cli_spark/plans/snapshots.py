"""Vendored Iceberg-style snapshot commit protocol for parquet table dirs.

SURVEY.md §2.1 prescribes a transactional table format (Iceberg) for the K1
routed fan-out and the K5/K6 library upserts (reference analog: SQLite's
single-writer transactions, sqlite-template-manager.ts:90-147). Real Iceberg
cannot be vendored into this sandbox, so this module implements the part of
its design the pipeline actually needs — SNAPSHOT ISOLATION via immutable
data files plus an atomic metadata commit — with zero dependencies:

    <root>/
      _snapshots/v000000000001.json   immutable manifest per snapshot
      data-v000000000001-<hex>/       immutable parquet dir(s), one per commit

A manifest holds ``format``, ``version``, ``parent`` (None for the first),
``operation``, ``data_dirs``, ``summary``, ``dir_batches`` (commit_batch's
data dir → batch id) and ``schema``: the table's ``StructType.jsonValue``,
partition columns last, under which readers read every dir, inferring none.

Protocol (Iceberg's, minus the catalog):

- Data is staged first, into a fresh uniquely-named directory that no
  committed manifest references. A crash mid-write leaves an orphan dir that
  ``vacuum`` collects; readers never see it.
- The COMMIT POINT is the exclusive creation (``os.link`` of a fsync'd temp
  file — atomic on POSIX) of ``_snapshots/v{N}.json``. Two committers racing
  for version N: exactly one link succeeds; the loser rebases on the winner's
  snapshot and retries with N+1 (optimistic concurrency, like Iceberg's
  catalog swap).
- The current version is the max committed manifest (a directory listing —
  Iceberg's version-hint.text is likewise only a hint, so none is kept).
- Manifests are immutable and reference their full data-dir list, so any
  retained snapshot is readable (time travel) and ``vacuum`` can delete
  exactly the dirs no retained manifest references.

``merge`` gives the MERGE INTO upsert K5 needs: read the current snapshot,
upsert by key (library_ops.merge_templates semantics), commit the result as a
new snapshot — a concurrent commit between read and publish is detected at
the commit point and the merge replays against the new current.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MANIFEST_DIR = "_snapshots"
_MANIFEST_NAME = re.compile(r"v(\d{12})\.json")
FORMAT = "lpcs-snapshot-v2"
_COMMIT_RETRIES = 5  # racing commits a writer rebases over before giving up


class ConcurrentCommitError(RuntimeError):
    """Another committer published this version first; rebase and retry."""


def _schema(manifest: dict) -> T.StructType:
    if "schema" not in manifest:
        raise ValueError(f"snapshot v{manifest['version']} is {manifest.get('format')}, with no schema")
    return T.StructType.fromJson(manifest["schema"])


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root

    # -- metadata -----------------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, _MANIFEST_DIR, f"v{version:012d}.json")

    def _versions(self) -> list[int]:
        """Committed manifest versions, ascending. The listing is the only
        authority (manifest creation is the atomic commit point); any other
        file in the manifest dir is ignored."""
        mdir = os.path.join(self.root, _MANIFEST_DIR)
        if not os.path.isdir(mdir):
            return []
        return sorted(
            int(m.group(1)) for m in map(_MANIFEST_NAME.fullmatch, os.listdir(mdir)) if m
        )

    def current_version(self) -> int | None:
        """Max committed manifest version."""
        return max(self._versions(), default=None)

    def manifest(self, version: int | None = None) -> dict | None:
        if version is None:
            version = self.current_version()
            if version is None:
                return None
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        return [self.manifest(v) for v in self._versions()]

    @staticmethod
    def is_snapshot_dir(root: str) -> bool:
        return os.path.isdir(os.path.join(root, _MANIFEST_DIR))

    # -- read ---------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """DataFrame over exactly the data dirs of one committed snapshot
        (default: current), each read under the manifest's schema (no job)
        and unioned: partition discovery rejects one read of several table
        roots. Raises ValueError for a manifest that records no schema."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        reader = spark.read.schema(_schema(m))
        return reduce(DataFrame.union, (reader.parquet(os.path.join(self.root, d)) for d in m["data_dirs"]))

    # -- write --------------------------------------------------------------

    def _stage(self, df: DataFrame, partition_by: tuple[str, ...] | None) -> tuple[str, T.StructType]:
        """Write ``df`` into a fresh dir no manifest references (crash ⇒ orphan,
        collected by vacuum — never visible to readers). Returns the dir and
        the schema a read of it returns: partition columns last."""
        name = f"data-{uuid.uuid4().hex[:12]}"
        writer = df.write.mode("overwrite")
        part = partition_by or ()
        if part:
            writer = writer.partitionBy(*part)
        writer.parquet(os.path.join(self.root, name))
        return name, T.StructType([f for f in df.schema if f.name not in part] + [df.schema[c] for c in part])

    def _try_commit(
        self,
        parent: int | None,
        op: str,
        data_dirs: list[str],
        schema: T.StructType,
        summary: dict,
        dir_batches: dict[str, int] | None = None,
    ) -> int:
        version = 0 if parent is None else parent + 1
        manifest = {
            "format": FORMAT,
            "version": version,
            "parent": parent,
            "operation": op,
            "data_dirs": data_dirs,
            "schema": schema.jsonValue(),
            "summary": summary,
        }
        if dir_batches is not None:
            manifest["dir_batches"] = dir_batches
        os.makedirs(os.path.join(self.root, _MANIFEST_DIR), exist_ok=True)
        final = self._manifest_path(version)
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # atomic exclusive create: THE commit point
        except FileExistsError:
            raise ConcurrentCommitError(f"snapshot v{version} already committed")
        finally:
            os.unlink(tmp)
        return version

    def _commit(self, op: str, build, summary: dict) -> int:
        """The one optimistic commit loop: ``build(parent)`` returns the
        (data_dirs, schema, dir_batches) of the new snapshot on top of the
        current version ``parent``; losing the race for version parent + 1
        rebuilds on the winner, at most ``_COMMIT_RETRIES`` times."""
        for _ in range(_COMMIT_RETRIES):
            parent = self.current_version()
            data_dirs, schema, dir_batches = build(parent)
            try:
                return self._try_commit(parent, op, data_dirs, schema, summary, dir_batches)
            except ConcurrentCommitError:
                pass
        raise ConcurrentCommitError(f"gave up after {_COMMIT_RETRIES} racing commits")

    def commit_overwrite(self, df: DataFrame, partition_by: tuple[str, ...] | None = None) -> int:
        """Publish ``df`` as the new current snapshot (replaces all rows):
        latest-overwrite-wins, and a version race retries on top of the
        winner."""
        staged, schema = self._stage(df, partition_by)
        return self._commit("overwrite", lambda parent: ([staged], schema, None), {})

    def commit_batch(
        self, df: DataFrame, batch_id: int, partition_by: tuple[str, ...] | None = None
    ) -> int:
        """Idempotent per-micro-batch append for at-least-once sinks
        (Structured Streaming ``foreachBatch``): the new snapshot keeps the
        parent's dirs EXCEPT any previously committed for this ``batch_id``
        and adds one new dir tagged with it. A retried micro-batch therefore
        REPLACES its own prior output instead of duplicating rows, and a
        crash before the commit point leaves only an unreferenced staged dir
        (age-gated vacuum) — readers never observe a torn batch. A frame whose
        column names or types (nullability aside) differ from the parent
        snapshot's raises ValueError before the commit point."""
        staged, schema = self._stage(df, partition_by)

        def build(parent: int | None) -> tuple[list[str], T.StructType, dict[str, int]]:
            tags: dict[str, int] = {}
            base: list[str] = []
            if parent is not None:
                m = self.manifest(parent)
                have, new = _schema(m).simpleString(), schema.simpleString()
                if have != new:
                    raise ValueError(f"batch {batch_id} is {new}; v{parent} of {self.root} is {have}")
                ptags = m.get("dir_batches", {})
                for d in m["data_dirs"]:
                    if ptags.get(d) != batch_id:
                        base.append(d)
                        if d in ptags:
                            tags[d] = ptags[d]
            tags[staged] = batch_id
            return base + [staged], schema, tags

        return self._commit("append-batch", build, {"batch_id": batch_id})

    def merge(self, spark: SparkSession, updates: DataFrame, key: str = "template_id") -> int:
        """MERGE INTO stand-in with snapshot isolation (K5): same-key rows are
        replaced, new keys union through, the result commits atomically. A
        commit that lands between our read and our publish is detected at the
        commit point and the merge REPLAYS against the new current snapshot —
        never lost-update."""
        from log_parser_cli_spark.plans.library_ops import merge_templates

        def build(parent: int | None) -> tuple[list[str], T.StructType, None]:
            merged = updates if parent is None else merge_templates(self.read(spark, parent), updates, key)
            staged, schema = self._stage(merged, None)
            return [staged], schema, None

        return self._commit("merge", build, {"key": key})

    # -- maintenance --------------------------------------------------------

    def vacuum(self, keep_last: int = 2, orphan_grace_s: float = 3600.0) -> list[str]:
        """Delete data dirs referenced by no retained snapshot, plus expired
        manifests and leftover manifest temp files. Keeping ≥2 snapshots
        leaves the previous version readable for in-flight readers (the
        sandbox stand-in for a retention window).

        Unreferenced dirs split into two classes:

        - referenced by an EXPIRED manifest only → committed and superseded,
          safe to delete immediately;
        - referenced by NO manifest at all → either a crashed commit's orphan
          OR a CONCURRENT committer's staged-but-not-yet-committed dir. The
          two are indistinguishable from here, so collection is age-gated by
          ``orphan_grace_s`` (Iceberg's remove_orphan_files takes the same
          posture with its 3-day default) — auto-vacuum right after a commit
          can no longer delete a racing committer's staged data out from
          under it.
        """
        import time

        current = self.current_version()
        if current is None:
            return []
        keep_last = max(1, keep_last)  # keep_last <= 0 would vacuum the CURRENT snapshot
        retained_versions = [v for v in (current - i for i in range(keep_last)) if v >= 0]
        mdir = os.path.join(self.root, _MANIFEST_DIR)
        committed: set[str] = set()  # referenced by ANY existing manifest
        retained: set[str] = set()  # referenced by a RETAINED manifest
        versions = self._versions()
        for v in versions:
            try:
                dirs = self.manifest(v)["data_dirs"]
            except FileNotFoundError:
                continue  # expired manifest deleted by a concurrent vacuum
            committed.update(dirs)
            if v in retained_versions or v > current:
                # v > current: committed by a concurrent writer AFTER we
                # sampled current_version() — it is the table's NEWEST
                # snapshot, not an expired one; deleting its data dirs here
                # would break the very snapshot readers are about to see
                retained.update(dirs)
        now = time.time()
        removed = []
        for name in os.listdir(self.root):
            if not name.startswith("data-") or name in retained:
                continue
            path = os.path.join(self.root, name)
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue  # deleted under us (concurrent vacuum)
            if name in committed or age >= orphan_grace_s:
                shutil.rmtree(path, ignore_errors=True)
                removed.append(name)
        for v in versions:
            if v < min(retained_versions):
                try:
                    os.unlink(self._manifest_path(v))
                except OSError:
                    pass  # unlinked by a concurrent vacuum
        for name in os.listdir(mdir):
            path = os.path.join(mdir, name)
            if name.endswith(".tmp"):
                # crashed _try_commit between temp-write and finally-unlink;
                # age-gated because a live committer's temp exists briefly
                try:
                    if now - os.path.getmtime(path) >= orphan_grace_s:
                        os.unlink(path)
                except OSError:
                    pass
        return removed
