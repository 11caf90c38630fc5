"""Seeded benchmark inputs, generated with the engine's own ``datagen``.

``build(work_dir, seed, rows, stream_files)`` returns a fixture directory
(sequences, vocab, sources, templates, ground truth) for that seed and size;
with ``stream_files`` it also splits ``sequences.parquet`` into that many
equal files for the file-stream source. Inputs are cached under
``work_dir/inputs`` by (seed, rows, stream files, ``GEN_VERSION``, hash of the
``log_parser_cli_spark/`` sources), so a changed generator or engine never
reads inputs made by other code, whether or not ``GEN_VERSION`` was bumped.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

KEEP_CACHED = 24  # input sets kept on disk, most recently used first: two workloads x ten seeds fit


@dataclass(frozen=True)
class Inputs:
    fixture_dir: str
    rows: int
    stream_dir: str | None = None


def engine_hash(package_dir: str) -> str:
    """sha256 over every .py file of the engine package (path + bytes)."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(package_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(base, name)
            h.update(os.path.relpath(path, package_dir).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(work_dir: str, package_dir: str, seed: int, rows: int, stream_files: int = 0) -> Inputs:
    from log_parser_cli_spark import datagen

    key = f"s{seed}-r{rows}-f{stream_files}-g{datagen.GEN_VERSION}-e{engine_hash(package_dir)}"
    root = os.path.join(work_dir, "inputs")
    out = os.path.join(root, key)
    stream_dir = os.path.join(out, "stream") if stream_files else None
    if not os.path.exists(os.path.join(out, "_READY")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, rows, seed=seed)
        if stream_files:
            _split(os.path.join(tmp, "sequences.parquet"), os.path.join(tmp, "stream"), stream_files)
        open(os.path.join(tmp, "_READY"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    os.utime(out)
    _prune(root)
    return Inputs(out, rows, stream_dir)


def _split(src: str, dst: str, n_files: int) -> None:
    """Contiguous doc_id ranges, one file each, named so the file source
    lists them in doc_id order (one micro-batch per file)."""
    table = pq.read_table(src)
    os.makedirs(dst)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(dst, f"part-{i:04d}.parquet"), row_group_size=20_000)


def _prune(root: str) -> None:
    sets = sorted(
        (os.path.join(root, n) for n in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for path in sets[KEEP_CACHED:]:
        shutil.rmtree(path, ignore_errors=True)
