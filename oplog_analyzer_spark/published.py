"""Publish-once directories: the materialize-then-oracle fixtures are built
once per host at a fixed path that both Spark and the DuckDB oracle read."""

from __future__ import annotations

import fcntl
import os
import shutil
import uuid
from collections.abc import Callable

MARKER = "_PUBLISHED"


def publish_once(out: str, build: Callable[[str], None]) -> str:
    """Return ``out``, first publishing it via ``build`` unless it already
    carries the ``_PUBLISHED`` marker.

    ``build(tmp)`` fills a fresh directory that is unique to this call and
    sits next to ``out``; the marker is then written into it and the whole
    directory is renamed onto ``out``.  Concurrent first callers all build;
    their renames are serialised by a lock on the parent directory, so the
    first one publishes and the rest find the marker and keep the winner's
    copy.  A stale ``out`` without the marker (a crashed or pre-marker run)
    is moved aside and replaced by the same rename.  Any other failure,
    ``build``'s included, raises.  The temporary directory never outlives
    the call."""
    marker = os.path.join(out, MARKER)
    if os.path.exists(marker):
        return out
    parent = os.path.dirname(os.path.abspath(out))
    tmp = os.path.join(parent, f".tmp-{os.getpid()}-{uuid.uuid4().hex}")
    os.makedirs(tmp)
    try:
        build(tmp)
        open(os.path.join(tmp, MARKER), "w").close()
        lock = os.open(parent, os.O_RDONLY)
        try:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not os.path.exists(marker):
                if os.path.isdir(out):
                    os.rename(out, tmp + ".stale")
                    shutil.rmtree(tmp + ".stale", ignore_errors=True)
                os.rename(tmp, out)
        finally:
            os.close(lock)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
