"""Content-addressed files in the temp dir, and their removal.

The engine keeps two kinds of files in ``tempfile.gettempdir()``, each
named by a 12-hex key of what it was built from: the package zip
``orthority_spark_<key>.zip`` (``pyfiles``) and the driver JVM's
class-data archive ``orthority_spark_cds_<key>.jsa`` (``session``). A new
key supersedes the old files of the same kind, which would otherwise
pile up. Each is written under ``<name>.<pid>.tmp`` first and renamed
into place.

A session holds a shared ``flock`` on each file it uses until its
process exits (:func:`hold`). Whoever publishes a new file deletes the
superseded siblings it can lock exclusively without blocking, and the
``.tmp`` files of its kind that a process no longer alive left behind
(:func:`prune`), so a file a live session uses is never deleted. The
writer's pid is read in this process's pid namespace, so the temp dir
must not be shared with processes outside it.
"""

from __future__ import annotations

import fcntl
import os
import re

#: a published name (kind prefix, 12-hex key, kind suffix), or the
#: per-process name it is written under
_KEYED = re.compile(r"(orthority_spark_(?:cds_)?)[0-9a-f]{12}(\.jsa|\.zip)(?:\.(\d+)\.tmp)?")

#: path -> open descriptor holding a shared lock for this process's life
_HELD: dict[str, int] = {}


def _open(path: str) -> int | None:
    """A read-only descriptor of ``path``, or None if it does not exist."""
    try:
        return os.open(path, os.O_RDONLY)
    except FileNotFoundError:
        return None


def _still_linked(fd: int, path: str) -> bool:
    try:
        return os.path.samestat(os.fstat(fd), os.stat(path))
    except FileNotFoundError:
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        return True
    return True


def hold(path: str) -> bool:
    """Take a shared lock on ``path`` until this process exits. False,
    and no lock, if ``path`` does not exist or was deleted before the
    lock was granted."""
    if path in _HELD:
        return True
    fd = _open(path)
    if fd is None:
        return False
    fcntl.flock(fd, fcntl.LOCK_SH)
    if not _still_linked(fd, path):
        os.close(fd)
        return False
    _HELD[path] = fd
    return True


def prune(path: str) -> None:
    """Delete the siblings of ``path`` of the same kind under another
    key, each only if no process holds it, and the ``.tmp`` files of
    that kind whose writer is no longer alive."""
    folder, name = os.path.split(path)
    kind = _KEYED.fullmatch(name).groups()[:2]
    for other in os.listdir(folder):
        m = _KEYED.fullmatch(other)
        if other == name or m is None or m.groups()[:2] != kind:
            continue
        full = os.path.join(folder, other)
        if m[3] is not None:
            if not _alive(int(m[3])):
                try:
                    os.remove(full)
                except FileNotFoundError:
                    pass
            continue
        fd = _open(full)
        if fd is None:
            continue
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            # a session that opens it now finds it unlinked once it gets
            # its shared lock, and does not use it
            if _still_linked(fd, full):
                os.remove(full)
        except OSError:  # held by a live session, or removed meanwhile
            pass
        finally:
            os.close(fd)


def publish(tmp: str, path: str) -> bool:
    """Rename the finished ``tmp`` to ``path`` unless ``path`` exists,
    then prune what it supersedes. ``tmp`` is gone either way. True if
    this call published ``path``."""
    if os.path.exists(path):
        os.remove(tmp)
        return False
    os.rename(tmp, path)
    prune(path)
    return True
