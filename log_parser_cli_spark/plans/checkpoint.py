"""Checkpoint manifest — stage-level resumability (T3/T4 semantics).

The reference persists every batch as a chunk file and can replay matching
without re-running discovery (src/runner/chunk-manager.ts:19-34,
semantic-log-parser.ts:108-151). Our unit of resume is the *stage*: each stage
writes its output (parquet; Iceberg-transactional on a real deployment) and
then commits a manifest entry with row counts and wall time. A rerun with
``resume=True`` skips committed stages and reads their outputs — giving the
kill-at-stage-N / rerun / identical-aggregates property that SURVEY.md §5.2
requires.

Entries are committed atomically (tmp file + rename) so a crash mid-write
never yields a corrupt manifest. The manifest records the ``source_digest``
of the code that wrote its stages: the first commit by other code starts the
stage list afresh, so a manifest never mixes outputs of two engines, and a
resume refuses a manifest written by other code (``run_pipeline``).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import pathlib
import time

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.lru_cache(maxsize=None)
def source_digest(pkg_dir: str = _PKG_DIR) -> str:
    """Digest of a package's ``.py`` sources (sorted relative path plus
    bytes), computed once per process: any engine code change names fresh
    cached run dirs and invalidates checkpoint manifests."""
    root = pathlib.Path(pkg_dir)
    h = hashlib.sha256()
    for rel in sorted(p.relative_to(root).as_posix() for p in root.rglob("*.py")):
        data = (root / rel).read_bytes()
        h.update(f"{rel}\0{len(data)}\0".encode())
        h.update(data)
    return h.hexdigest()[:12]


class Manifest:
    def __init__(self, out_dir: str, run_id: str):
        self.out_dir = out_dir
        self.run_id = run_id
        self.path = os.path.join(out_dir, "_manifest.json")
        os.makedirs(out_dir, exist_ok=True)
        self._state = self._load()

    def _fresh(self) -> dict:
        return {"run_id": self.run_id, "source_digest": source_digest(), "stages": {}}

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                state = json.load(f)
            if state.get("run_id") == self.run_id:
                return state
        return self._fresh()

    @property
    def digest(self) -> str | None:
        """``source_digest`` of the code that committed the stages."""
        return self._state.get("source_digest")

    def is_done(self, stage: str) -> bool:
        return stage in self._state["stages"]

    def stage_info(self, stage: str) -> dict | None:
        return self._state["stages"].get(stage)

    def commit(self, stage: str, **info) -> None:
        if self.digest != source_digest():
            self._state = self._fresh()
        self._state["stages"][stage] = {"committed_at": time.time(), **info}
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._state, f, indent=1)
        os.replace(tmp, self.path)
