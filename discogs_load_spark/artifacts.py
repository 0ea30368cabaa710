"""Write-once on-disk artifacts: the one cache protocol of the engine.

Every derived artifact the engine keeps on disk (the index parquet sets,
the stream-source copies, the lake round-trip outputs, the resharded
fixture parts) is built once per source generation and published whole,
the way the reference loader builds each table once and then runs
``sql/indexes.sql``:

- ``source_key`` names a source generation: a digest of each source
  file's absolute path, size and mtime. Callers prefix it with their own
  version string, so a regenerated fixture or a semantics change never
  serves a stale artifact.
- ``publish_once`` builds the artifact in a private sibling directory
  and publishes it with one ``os.rename``. A reader therefore sees the
  complete artifact or none; concurrent builders (a bench process and
  its subprocess sharing one temp dir) converge on one copy, and a
  build that fails leaves nothing behind.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import uuid
from typing import Callable


def source_key(*paths: str) -> str:
    """16-hex digest of (abspath, size, mtime_ns) of each source path."""
    h = hashlib.md5()
    for p in paths:
        p = os.path.abspath(p)
        st = os.stat(p)
        h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def publish_once(
    dest: str, write: Callable[[str], None], rebuild: bool = False
) -> str:
    """Return ``dest``, first building it with ``write(tmp)`` unless it
    already exists (``rebuild=True`` replaces it).

    ``tmp`` is a not-yet-existing sibling path unique to this call (pid
    plus uuid); ``write`` creates it. It is published with ``os.rename``,
    which refuses to replace a non-empty directory: a builder that loses
    the race discards its own copy and returns the winner's. Whatever
    happens, no ``tmp`` survives the call."""
    if not rebuild and os.path.exists(dest):
        return dest
    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    tmp = f"{dest}.tmp.{os.getpid()}.{uuid.uuid4().hex[:12]}"
    try:
        write(tmp)
        if rebuild:
            # move the old copy aside first so readers never see a half-
            # deleted directory; it is removed with tmp below
            with contextlib.suppress(FileNotFoundError):
                os.rename(dest, f"{tmp}.old")
        try:
            os.rename(tmp, dest)
        except OSError:
            if not os.path.exists(dest):
                raise  # not a lost race
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(f"{tmp}.old", ignore_errors=True)
    return dest
