"""Workspace guard: a run must leave the checkout as it found it.

A snapshot maps each file under the root (``.git`` and the run's own
work directory excluded) to its (size, mtime_ns); any added, removed
or changed entry between two snapshots fails the run.
"""

from __future__ import annotations

import os

SKIP = {".git", ".perfbench_work"}


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath == root:
            dirnames[:] = [d for d in dirnames if d not in SKIP]
        for name in filenames:
            path = os.path.join(dirpath, name)
            st = os.lstat(path)
            out[os.path.relpath(path, root)] = (st.st_size, st.st_mtime_ns)
    return out


def changes(before: dict, after: dict) -> list[str]:
    """Human-readable differences, empty when the snapshots agree."""
    out = [f"added {p}" for p in sorted(after.keys() - before.keys())]
    out += [f"removed {p}" for p in sorted(before.keys() - after.keys())]
    out += [
        f"changed {p}" for p in sorted(before.keys() & after.keys()) if before[p] != after[p]
    ]
    return out
