"""Versioned copy-on-write directories with an atomic ``CURRENT`` pointer.

Every persisted state the engine rewrites whole — CDC-applied tables
(engine.py), summary tables (operators/mv.py), streaming CDC state
(streaming/cdc_stream.py) and incremental aggregates
(streaming/incremental.py) — commits the same way: write a NEW
``path/v{n+1}`` directory, atomically swap ``path/CURRENT`` to it, then
drop ``v{n-1}``. A crash mid-write leaves the previous version committed
and addressed (a half-written ``v{n+1}`` is never read: the pointer, not
directory existence, defines committed); a reader that resolved the old
pointer keeps its files for one more commit (one-version grace). The
version number is parsed back from the pointer, so a restarted process
resumes numbering with no bookkeeping of its own.

``CURRENT`` holds the committed directory on its first line, then an
optional trailer of caller-defined lines (incremental.py records the
(checkpoint, batch_id) that produced the version there).
"""

from __future__ import annotations

import os
import shutil


def read_current(path: str) -> tuple[int, str | None, list[str]]:
    """(committed version, committed dir, trailer lines) of the versioned
    directory ``path`` — (0, None, []) when nothing has committed."""
    cur = os.path.join(path, "CURRENT")
    if not os.path.exists(cur):
        return 0, None, []
    with open(cur) as f:
        first, *trailer = f.read().strip().splitlines() or [""]
    name = os.path.basename(first)
    try:
        n = int(name.lstrip("v"))
    except ValueError:
        return 0, None, []
    return n, os.path.join(path, name), trailer


def commit_versioned(write_fn, path: str,
                     trailer: tuple[str, ...] = ()) -> None:
    """Run ``write_fn(version_dir)`` for the next version, swap the CURRENT
    pointer to it (with ``trailer`` lines after the directory), and drop the
    version before last."""
    os.makedirs(path, exist_ok=True)
    n, _, _ = read_current(path)
    out = os.path.join(path, f"v{n + 1}")
    write_fn(out)
    tmp = os.path.join(path, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join((out, *trailer)))
    os.replace(tmp, os.path.join(path, "CURRENT"))
    old = os.path.join(path, f"v{n - 1}")
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)
