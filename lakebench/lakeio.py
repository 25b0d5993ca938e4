"""Byte and file counts read from a lake table's own metadata (snapshot
manifests) plus file sizes on disk — no Spark job."""

from __future__ import annotations

import os
import statistics


def tree_bytes(paths: list[str]) -> int:
    total = 0
    for top in paths:
        for dirpath, _dirs, files in os.walk(top):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files if not f.startswith((".", "_")))
    return total


def _live(table, version: int) -> set[str]:
    return {e["path"] for e in table.files(table.snapshot(version))}


def _sizes(paths) -> dict[str, int]:
    return {p: os.path.getsize(p) for p in paths}


def files_written(table, after_version: int) -> dict[str, int]:
    """Data files committed by the snapshots after ``after_version`` (each
    file once, even when a later commit replaced it), with their sizes."""
    before = _live(table, after_version)
    seen: set[str] = set()
    for v in range(after_version + 1, table.current_version() + 1):
        seen |= _live(table, v)
    return _sizes(seen - before)


def replaced_bytes(table, version: int) -> int:
    """Bytes of the files commit ``version`` took out of the live set:
    the touched target a copy-on-write merge rewrote, or what a
    compaction rewrote."""
    return sum(_sizes(_live(table, version - 1) - _live(table, version))
               .values())


def touched_bytes_p50(table, after_version: int) -> float:
    per_commit = [replaced_bytes(table, v) for v in
                  range(after_version + 1, table.current_version() + 1)]
    return statistics.median(per_commit) if per_commit else 0.0


def files_per_bucket(table) -> float:
    snap = table.snapshot()
    return len(table.files(snap)) / snap["n_buckets"]
