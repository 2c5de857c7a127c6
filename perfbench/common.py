"""Pieces shared by the workloads: the operation record and disk accounting."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Op:
    """One closed-loop operation: ``run`` is timed, ``check`` is not.

    ``check(result)`` returns whether the answer is right; ``user_bytes``
    is the user data the operation submits (0 for reads).  ``probe``,
    when given, reads counters at the layer boundary after a traced op."""

    kind: str  # "read" | "write"
    name: str
    layer: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    user_bytes: int = 0
    probe: Callable[[], dict] | None = None


def result_rows(got) -> int:
    """Rows in an answer: a count, or the length of a collected result."""
    if isinstance(got, (int, float)):
        return int(got)
    try:
        return len(got)
    except TypeError:
        return 0


def file_sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.stat(p).st_size
            except FileNotFoundError:
                pass  # removed while walking (a staging directory)
    return out


def disk_bytes(root: str) -> int:
    return sum(file_sizes(root).values())


class DiskLedger:
    """Bytes written under a directory, counted as files that appear
    between two walks (files never change once written here)."""

    def __init__(self, root: str):
        self.root = root
        self.seen: dict[str, int] = {}

    def new_bytes(self) -> int:
        now = file_sizes(self.root)
        added = sum(size for p, size in now.items() if self.seen.get(p) != size)
        self.seen = now
        return added
