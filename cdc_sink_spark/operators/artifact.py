"""The file protocol of every durable store: one lock, one crash-safe
directory swap, one build-once publish.

Reference: ``internal/staging/{memo,leases,stage}`` keep their state in
a transactional database. This port keeps it in the local filesystem,
and each store gets its transactions from the three helpers below.

Locking. ``locked(path)`` holds ``flock`` on ``path + ".lock"``. The
kernel drops a lock when its holder dies, so there is no stale-lock
heuristic that could evict a live holder, and a waiter blocks for as
long as a legitimate holder runs. The lock file is never unlinked: a
waiter that opened it before an unlink would lock an inode no later
opener can see, and two processes would both hold "the" lock.

Commit point. A directory is replaced or published by one ``rename``,
which POSIX makes atomic: a reader sees the old directory or the new
one, never a mix, and nothing is deleted before its replacement is in
place. Hand-rolled unlink-then-rename sequences are where crash bugs
live (Pillai et al., "All File Systems Are Not Created Equal", OSDI
2014). ``replace_dir`` moves the live directory aside to
``.<name>.old`` in the same parent, a name Spark's file listing skips,
so a crash between its two renames leaves the data there and
``recover_dir`` restores it. An owner calls ``recover_dir`` (or
``recover_children`` for a store that swaps its subdirectories) when it
opens its store, holding the lock it holds around ``replace_dir`` if
another process may be swapping at that moment.

``replace_dir`` swaps in the memo's and the LSH band index's
compactions, the staging retire's boundary bucket, and every commit of
the streaming target and its parked store (``streaming/pipeline.
TargetStore``): the whole directory, or each key bucket a batch touched.

Versions. ``build_once`` publishes an immutable ``root/v-<sha256>``
directory per key: readers resolve a version and writers publish the
next one (Armbrust et al., "Delta Lake", VLDB 2020), so a rebuild never
touches a directory a reader holds. Only the newest two versions are
kept. A reader that still reads a version after two later versions were
published can lose its files; that window is the price of bounded
storage.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import tempfile
import time
from contextlib import contextmanager
from typing import Callable


@contextmanager
def locked(path: str, shared: bool = False):
    """Hold ``flock`` on ``path + ".lock"``, exclusive unless ``shared``."""
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    fd = os.open(path + ".lock", os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_SH if shared else fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


def _aside(live: str) -> str:
    head, name = os.path.split(os.path.abspath(live))
    return os.path.join(head, f".{name}.old")


def recover_dir(live: str) -> None:
    """Finish a ``replace_dir`` that a crash interrupted: restore the
    aside copy when ``live`` is missing, else drop the stale aside copy."""
    aside = _aside(live)
    if not os.path.isdir(aside):
        return
    if os.path.isdir(live):
        shutil.rmtree(aside)
    else:
        os.rename(aside, live)


def recover_children(parent: str) -> None:
    """``recover_dir`` for every directory in ``parent`` whose
    ``replace_dir`` a crash interrupted (its ``.<name>.old`` is there)."""
    if os.path.isdir(parent):
        for entry in os.listdir(parent):
            if entry.startswith(".") and entry.endswith(".old"):
                recover_dir(os.path.join(parent, entry[1:-4]))


def replace_dir(new: str | None, live: str) -> None:
    """Make directory ``new`` the directory at ``live``: ``live`` is
    renamed aside, ``new`` renamed in, and only then the old copy goes.
    A missing ``live`` is just renamed in; ``new=None`` removes ``live``
    through the same aside rename."""
    recover_dir(live)
    aside = _aside(live)
    if os.path.isdir(live):
        os.rename(live, aside)
    if new is not None:
        os.rename(new, live)
    if os.path.isdir(aside):
        shutil.rmtree(aside)


def build_once(root: str, key, build: Callable[[str], None]) -> str:
    """The immutable version of ``root`` for ``key`` (any JSON value),
    built by ``build(dir)`` the first time any process asks for it."""
    canon = json.dumps(key, sort_keys=True, separators=(",", ":"))
    name = "v-" + hashlib.sha256(canon.encode()).hexdigest()
    version = os.path.join(root, name)
    if os.path.isdir(version):
        return version
    with locked(root):
        if not os.path.isdir(version):  # not built while this one waited
            os.makedirs(root, exist_ok=True)
            side = tempfile.mkdtemp(prefix=".build-", dir=root)
            build(side)
            now = time.time_ns()  # versions age by publication time
            os.utime(side, ns=(now, now))
            os.rename(side, version)
        # Keep this version and the newest other one; every other entry
        # is an older version or the side directory of a killed build.
        others = sorted(
            (e for e in os.listdir(root) if e.startswith("v-") and e != name),
            key=lambda e: os.stat(os.path.join(root, e)).st_mtime_ns,
        )
        for e in set(os.listdir(root)) - {name, *others[-1:]}:
            p = os.path.join(root, e)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
    return version
