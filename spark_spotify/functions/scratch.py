"""Scratch directories: the one place the engine makes, keeps alive and
reclaims temporary dirs.

Every dir is named ``spark_spotify_<name>_*`` under the system temp dir.
A drill that proves a verb in a throwaway warehouse uses :func:`scratch`,
which removes the dir when the block exits.  A gate whose returned
DataFrame reads its dir lazily, or a per-session fixture cache, uses
:func:`session_scratch`, which reclaims the dir at interpreter exit.  A
hard-killed run skips that exit hook, so :func:`sweep_orphaned_tmp` (run
at session start) reclaims prefixed dirs idle past the age gate, and a
cache that hands out a long-lived dir calls :func:`keep_alive` on every
hit so that sweep never takes it from a live session.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
from contextlib import contextmanager
from typing import Iterator

PREFIX = "spark_spotify_"
MAX_AGE_S = 3600.0


def _mkdtemp(name: str) -> str:
    return tempfile.mkdtemp(prefix=f"{PREFIX}{name}_")


@contextmanager
def scratch(name: str) -> Iterator[str]:
    """A fresh prefixed dir, removed when the block exits (normally or by
    an exception)."""
    path = _mkdtemp(name)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def session_scratch(name: str) -> str:
    """A fresh prefixed dir that outlives the call: removed at
    interpreter exit, for results that read it lazily and for session
    caches."""
    path = _mkdtemp(name)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def keep_alive(path: str) -> bool:
    """The hit path of a session cache: refresh ``path``'s mtime so a
    concurrent process's :func:`sweep_orphaned_tmp` leaves it alone.
    False when the dir is gone (swept or removed) — the caller treats
    that as a miss and rebuilds."""
    try:
        os.utime(path)
    except OSError:
        return False
    return True


def sweep_orphaned_tmp(now: float | None = None) -> list[str]:
    """Best-effort reclamation of ``spark_spotify_*`` scratch dirs left
    in the system temp dir by HARD-KILLED runs (SIGKILL skips the atexit
    hook of :func:`session_scratch`).  Only dirs idle longer than
    ``MAX_AGE_S`` are touched — a younger dir may belong to a live
    concurrent session, so it is left alone; the next startup after IT
    ages out reclaims it.  Returns the removed paths."""
    now = time.time() if now is None else now
    removed = []
    root = tempfile.gettempdir()
    try:
        entries = os.listdir(root)
    except OSError:
        return removed
    for name in entries:
        if not name.startswith(PREFIX):
            continue
        path = os.path.join(root, name)
        try:
            if not os.path.isdir(path):
                continue
            if now - os.stat(path).st_mtime <= MAX_AGE_S:
                continue
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
        except OSError:
            continue  # raced with a concurrent cleanup: fine
    return removed
