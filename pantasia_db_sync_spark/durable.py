"""Atomic, durable metadata writes — the one way a metadata file is written.

Every small metadata file the engine keeps (table pointers, commit
manifests, journals, snapshots, constraints, branch records, index
centroids) goes through :func:`write_atomic`: a reader sees either the
old file or the new one, never a prefix, and after the call returns the
new file survives power loss, not just process death.
"""

from __future__ import annotations

import json
import os


def fsync_path(path: str) -> None:
    """fsync a file or directory by path (a directory fsync makes the
    entries created, renamed or removed in it durable)."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


def write_atomic(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON (an int is written as its
    decimal text, the pointer format).

    ``obj`` is serialized before any file is opened, so an unencodable
    value raises with the old file untouched. The text goes to
    ``path + ".tmp"``, which is fsynced and then renamed over ``path``
    (atomic on POSIX); the parent directory is fsynced after the rename.
    A failed write removes its temp file and leaves ``path`` as it was.
    """
    text = json.dumps(obj)
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    fsync_path(os.path.dirname(path) or ".")
