"""The session cache: every memoized part of a query build, in one place.

A parquet read, a registry plan, a persisted intermediate relation, a
corpus statistic and the derived view are all entries under one key::

    (kind, id(session), sf_dir, snapshot)

* **session** — ``id()`` plus a weakref checked on every hit, so a
  ``newSession()`` never shares entries with its parent and a recycled
  ``id()`` cannot serve a dead session's value;
* **snapshot** — the stat signature (:func:`table_files`: size +
  mtime_ns of every data file) of each corpus table under ``sf_dir``,
  so a rewritten corpus (a re-mounted table set included) is a miss for
  every kind.

Entries built over the on-disk index store also record the stat of each
store ``_FINGERPRINT`` they read (:func:`depends_on`); nested entries pass
theirs up to the entry that consumed them, and a hit re-stats them.  A
store wiped or replaced by another process is therefore rebuilt instead
of scanned, while a store this process writes is recorded after the
write and keeps hitting.

Values are lazy plans or small Python values: every action on a
memoized DataFrame still executes in full.  ``persist=True`` additionally
caches the relation in executor storage; every DataFrame a dropped entry
holds (directly or inside a list/tuple) is unpersisted.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from collections import OrderedDict

#: key -> (value, session weakref, {fingerprint path: stat}); LRU order.
_ENTRIES: OrderedDict = OrderedDict()
#: sf_dir -> the snapshot its entries were last looked up under.
_SNAPSHOTS: dict = {}
#: LRU bound — one full registry pass over a corpus is ~250 entries.
_MAX_ENTRIES = 2048
_LOCK = threading.Lock()


class _Builds(threading.local):
    def __init__(self):
        #: this thread's builds in progress, innermost last: each one's
        #: {fingerprint path: stat} store dependencies.
        self.stack: list[dict] = []


_BUILDS = _Builds()


def _ignored(name: str) -> bool:
    """Names Spark's file index skips when it lists a table."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def table_files(path: str) -> list[tuple[str, int, int]]:
    """The data files of the table at ``path`` (one parquet file, or a
    directory of them) as sorted (path relative to ``path``, size,
    mtime_ns) — ``""`` for a plain file.  Stat only, no file reads;
    raises OSError when ``path`` is missing.  The corpus manifest both
    the snapshot below and the index store's fingerprint hash."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return [("", st.st_size, st.st_mtime_ns)]
    # A partitioned layout rewrites part files below the top level
    # without touching its mtime, so walk every data file.
    entries = []
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _ignored(d)]
        for f in files:
            if not _ignored(f):
                p = os.path.join(dirpath, f)
                s2 = os.stat(p)
                entries.append((os.path.relpath(p, path), s2.st_size, s2.st_mtime_ns))
    return sorted(entries)


def _path_sig(path: str) -> tuple | None:
    try:
        return tuple(table_files(path))
    except OSError:
        return None


def _snapshot(sf_dir: str) -> tuple:
    """Identity of the corpus version behind ``sf_dir``: the stat
    signature of every corpus table file.  No file contents are read."""
    from .sources.session import TABLES

    return tuple(_path_sig(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES)


def _stat(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def depends_on(path: str) -> None:
    """Record that the value being built reads the index store whose
    fingerprint file is ``path`` (its stat now is the valid one)."""
    if _BUILDS.stack:
        _BUILDS.stack[-1][path] = _stat(path)


def _pass_up(deps: dict) -> None:
    if _BUILDS.stack:
        _BUILDS.stack[-1].update(deps)


def _release(value) -> None:
    """Unpersist every cached DataFrame inside ``value``."""
    todo = [value]
    while todo:
        v = todo.pop()
        if isinstance(v, (list, tuple)):
            todo.extend(v)
        elif getattr(v, "is_cached", False):
            try:
                v.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release


def _drop(match) -> None:
    """Remove the entries ``match(key, record)`` selects and release them."""
    with _LOCK:
        keys = [k for k, rec in _ENTRIES.items() if match(k, rec)]
        dropped = [_ENTRIES.pop(k)[0] for k in keys]
    for v in dropped:
        _release(v)


def memo(kind: str, spark, sf_dir: str, build, persist: bool = False):
    """The cached ``build()`` for ``(kind, spark, sf_dir)`` at the current
    snapshot; ``persist=True`` caches the built DataFrame.  A ``build``
    that raises is not memoized.

    Entries that can no longer hit — those of an older snapshot of
    ``sf_dir``, and those that read a store that has since changed — are
    released before anything is rebuilt: Spark matches cached data by
    plan, so a rebuilt relation reading the same paths would otherwise
    be served the old cached rows."""
    snap = _snapshot(sf_dir)
    key = (kind, id(spark), sf_dir, snap)
    with _LOCK:
        moved = _SNAPSHOTS.get(sf_dir, snap) != snap
        _SNAPSHOTS[sf_dir] = snap
        rec = _ENTRIES.get(key)
        gone = set()
        if rec is not None and rec[1]() is spark:
            gone = {p for p, sig in rec[2].items() if _stat(p) != sig}
            if not gone:
                _ENTRIES.move_to_end(key)
                _pass_up(rec[2])
                return rec[0]
    if moved:
        _drop(lambda k, r: k[2] == sf_dir and k[3] != snap)
    if gone:
        _drop(lambda k, r: not gone.isdisjoint(r[2]))
    _BUILDS.stack.append({})
    try:
        value = build()
        if persist:
            value = value.cache()
    finally:
        deps = _BUILDS.stack.pop()
    with _LOCK:
        _ENTRIES[key] = (value, weakref.ref(spark), deps)
        evicted = [
            _ENTRIES.popitem(last=False)[1][0]
            for _ in range(len(_ENTRIES) - _MAX_ENTRIES)
        ]
    for v in evicted:
        _release(v)
    _pass_up(deps)
    return value


def invalidate(sf_dir: str | None = None) -> None:
    """Drop every entry (or every entry built for ``sf_dir``) — plans,
    reads, relations, statistics and views together — and unpersist the
    DataFrames they held."""
    with _LOCK:
        if sf_dir is None:
            _SNAPSHOTS.clear()
        else:
            _SNAPSHOTS.pop(sf_dir, None)
    _drop(lambda k, r: sf_dir is None or k[2] == sf_dir)
