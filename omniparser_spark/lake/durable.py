"""The one durable small-file write, used for every lake metadata
file, version pointer, tag ref, checkpoint record and sink manifest.

Temp file in the target's directory, write, fsync it, ``os.replace``
it over the target, fsync the directory: readers see the whole old or
the whole new file, and a failure at any step leaves the target as it
was and no temp file. Temp names (``.<basename>.*.tmp``) match no
directory scan in the engine.
"""

from __future__ import annotations

import contextlib
import os
import tempfile


def atomic_write(path: str, text: str) -> None:
    """Atomically and durably replace `path` with `text` (UTF-8)."""
    dirname, basename = os.path.split(os.path.abspath(path))
    fd, tmp = tempfile.mkstemp(dir=dirname, prefix=f".{basename}.", suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise
    dfd = os.open(dirname, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
