"""One memo rule for every cache in the engine.

A server re-serving recurring queries may reuse earlier work only while
it can tell the work is still valid (PAPERS.md, *Shared Execution of
Recurring Workloads in MapReduce*). Every memo in the package is a
:class:`Memo`: an entry holds its value and the fixture tables its build
read, each with its fingerprint then (:func:`recording`). A lookup
serves the value only while every fingerprint is unchanged, and
otherwise rebuilds and *replaces* the entry, so keys carry no
fingerprint and an appended or rewritten table never adds an entry.
Concurrent builds of one key run once; other keys, and builds nested in
a build, never wait on each other. A fingerprint is file-system stats
only, so checking a directory table costs time linear in its part count.
:func:`new_parts` is the one append rule over two listings of a table's
parts (:func:`parts`): a table whose earlier parts are all still there
unchanged only gained parts, so a reader may keep what it learned from
the earlier ones (the loader its recorded schema, a materialized view
its keys).
Storing an entry drops and releases, in every memo, the entries that
recorded a table whose path is gone since: nothing looks those up again
(a server's data directories come and go), so nothing else would.
A memo may also settle an entry on its first hit: replace its value by
one derived from it, under the same recorded reads (the plan memo keeps
a plan's result rows), so the derived value goes stale exactly when the
value it came from would have.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from collections.abc import Callable, Hashable, Iterator, Mapping
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, replace
from typing import Any

#: What a table's files looked like: ``(mtime_ns, size)`` for a file, the
#: sorted ``(relative name, mtime_ns, size)`` of every file for a
#: directory, ``None`` when the path is missing.
Fingerprint = tuple | None


def fingerprint(path: str) -> Fingerprint:
    """File-system stats only: an append adds a part file, a rewrite
    moves mtime_ns or size."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                f = os.stat(p)
            except OSError:
                continue  # removed mid-walk: the next check sees the change
            files.append((os.path.relpath(p, path), f.st_mtime_ns, f.st_size))
    return tuple(sorted(files))


#: part name (relative to the table path; "" for a single-file table) →
#: (mtime_ns, size)
Parts = dict[str, tuple[int, int]]


def parts(fp: Fingerprint) -> Parts:
    """The parquet parts of a table from its fingerprint, as Spark lists
    them: every file of a directory except hidden ones (``_SUCCESS``,
    ``.crc``, staging directories), or the single file itself."""
    if not fp:
        return {}
    if isinstance(fp[0], int):  # a file's (mtime_ns, size)
        return {"": fp}
    return {
        n: (mtime, size)
        for n, mtime, size in fp
        if not any(c.startswith(("_", ".")) for c in n.split(os.sep))
    }


def new_parts(old: Parts, now: Parts) -> list[str] | None:
    """The append rule: the parts of ``now`` that ``old`` lacks, sorted,
    when every part of ``old`` is still there unchanged; None when one
    was rewritten or removed, or ``old`` has none (a reader then has to
    rediscover the whole table)."""
    if not old or any(now.get(n) != v for n, v in old.items()):
        return None
    return sorted(now.keys() - old.keys())


def table_path(sf_dir: str, name: str) -> str:
    """A fixture table is the file or directory ``<sf_dir>/<name>.parquet``."""
    return os.path.join(sf_dir, f"{name}.parquet")


def table_fingerprint(sf_dir: str, name: str) -> Fingerprint:
    return fingerprint(table_path(sf_dir, name))


#: (sf_dir, table) → fingerprint of every table read while a value builds.
#: A context variable, so builds on concurrent threads record apart.
Reads = dict[tuple[str, str], Fingerprint]
_RECORDING: ContextVar[Reads | None] = ContextVar("_RECORDING", default=None)


@contextmanager
def recording() -> Iterator[Reads]:
    """Record the fixture tables read inside the block (nested blocks
    record apart; a memo merges an inner build's reads outward)."""
    reads: Reads = {}
    token = _RECORDING.set(reads)
    try:
        yield reads
    finally:
        _RECORDING.reset(token)


def note_read(sf_dir: str, name: str) -> Fingerprint:
    """Fingerprint ``name`` and add it to the open recording, if any."""
    fp = table_fingerprint(sf_dir, name)
    reads = _RECORDING.get()
    if reads is not None:
        reads[(sf_dir, name)] = fp
    return fp


def note_reads(reads: Mapping[tuple[str, str], Fingerprint]) -> None:
    """Add already-fingerprinted reads to the open recording, if any."""
    rec = _RECORDING.get()
    if rec is not None:
        rec.update(reads)


#: SparkContext → applicationId, so an application-scoped key costs no
#: py4j call
_APP_IDS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def app_id(spark) -> str:
    """The Spark applicationId of ``spark``, asked of the JVM once."""
    sc = spark.sparkContext
    app = _APP_IDS.get(sc)
    if app is None:
        app = _APP_IDS[sc] = sc.applicationId
    return app


@dataclass(frozen=True)
class Entry:
    """One memoized value and the inputs it was built from."""

    value: Any
    #: (sf_dir, table) → fingerprint of every fixture table the build read
    reads: Reads
    #: the memo's first-hit step has run (:meth:`Memo.__call__`): the
    #: value is served as it is until the reads change
    settled: bool = False
    #: driver memory the value retains, as the first-hit step measured it
    #: (0 when unmeasured)
    nbytes: int = 0

    def current(self) -> bool:
        """Do all the recorded inputs still look as they did? Stats only."""
        return all(
            table_fingerprint(d, t) == fp for (d, t), fp in self.reads.items()
        )

    def tables(self, sf_dir: str) -> set[str]:
        """The tables of ``sf_dir`` the build read."""
        return {t for d, t in self.reads if d == sf_dir}

    def orphaned(self, gone: Callable[[str, str], bool]) -> bool:
        """Did the build read a table that ``gone`` says is missing now?"""
        return any(fp is not None and gone(d, t) for (d, t), fp in self.reads.items())


#: every memo by name, for :func:`stats` and :func:`clear_frames`
_MEMOS: dict[str, Memo] = {}


class Memo(dict):
    """key → :class:`Entry`, under the module's one rule.

    A dict, so evicting or counting entries by key (``pop``, ``clear``,
    ``len``) works as on any dict. ``release`` (e.g.
    ``DataFrame.unpersist``) is run on a value that is replaced or
    cleared by :func:`clear_frames`. Hit, miss (no entry), stale (an
    entry whose inputs changed) and fill (a first hit that stored a
    derived value) counts are kept per memo."""

    def __init__(self, name: str, release: Callable[[Any], object] | None = None):
        super().__init__()
        self.name = name
        self.release = release
        self.counts = {"hits": 0, "misses": 0, "stale": 0, "fills": 0}
        self._lock = threading.Lock()  # guards the counts
        self._key_locks: dict[Hashable, threading.Lock] = {}
        _MEMOS[name] = self

    def __call__(
        self,
        key: Hashable,
        build: Callable[[], Any],
        first_hit: Callable[[Entry], tuple[Entry, Any]] | None = None,
    ) -> Any:
        """The value of ``key`` while its inputs are unchanged, else
        ``build()``'s, memoized. Concurrent cold callers build once.

        ``first_hit(entry)`` runs on an entry's first hit, once however
        many callers hit it together: it returns the entry to keep, which
        must carry ``entry``'s reads, and the value that hit is served.
        Every later hit serves the kept entry's value."""
        entry = self.lookup(key)
        if entry is None:
            with self._key_lock(key):
                entry = self.lookup(key)  # built meanwhile on another thread?
                if entry is None:
                    return self._fill(key, build)
        if first_hit is None or entry.settled:
            return entry.value
        with self._key_lock(key):
            now = self.get(key)
            if now is not entry:  # settled or replaced meanwhile
                return (now or entry).value
            kept, served = first_hit(entry)
            self[key] = replace(kept, settled=True)
        if kept.value is not entry.value:
            self._count("fills")
        return served

    def lookup(self, key: Hashable) -> Entry | None:
        """The entry of ``key`` if its inputs are unchanged (a counted
        hit, its reads recorded into the open recording), else None."""
        entry = self.get(key)
        if entry is None or not entry.current():
            return None
        self._count("hits")
        note_reads(entry.reads)
        return entry

    def build(self, key: Hashable, build: Callable[[], Any]) -> Any:
        """Build ``key`` afresh and memoize it, replacing any entry."""
        with self._key_lock(key):
            return self._fill(key, build)

    def _fill(self, key: Hashable, build: Callable[[], Any]) -> Any:
        self._count("stale" if key in self else "misses")
        with recording() as reads:
            value = build()
        note_reads(reads)  # a build nested in another records into it too
        if value is None:  # not stored: absence is rechecked next call
            old = self.pop(key, None)
        else:
            old = self.get(key)
            self[key] = Entry(value, reads)
        if old is not None:
            self._release(old.value)
        _drop_orphans()
        return value

    def _key_lock(self, key: Hashable) -> threading.Lock:
        # dict.setdefault is one atomic step: every caller gets one lock
        return self._key_locks.setdefault(key, threading.Lock())

    def _count(self, what: str) -> None:
        with self._lock:
            self.counts[what] += 1

    def _release(self, value: Any) -> None:
        if self.release is None:
            return
        try:
            self.release(value)
        except Exception:  # best effort: the value's session may be gone
            pass


def _drop_orphans() -> None:
    """Drop and release every memo's entries that recorded a table whose
    path no longer exists (each path is checked once per sweep)."""
    missing: dict[tuple[str, str], bool] = {}

    def gone(d: str, t: str) -> bool:
        if (d, t) not in missing:
            missing[(d, t)] = not os.path.exists(table_path(d, t))
        return missing[(d, t)]

    for m in list(_MEMOS.values()):
        for key, entry in list(m.items()):
            # a replacement stored meanwhile by another thread stays
            if entry.orphaned(gone) and m.get(key) is entry:
                m.pop(key, None)
                m._key_locks.pop(key, None)
                m._release(entry.value)


def stats() -> dict[str, dict[str, int]]:
    """Hits, misses, stale rebuilds and fills of every memo so far, and
    the driver bytes its entries retain now (``retained_bytes``), by name."""
    return {
        name: {**m.counts, "retained_bytes": sum(e.nbytes for e in list(m.values()))}
        for name, m in _MEMOS.items()
    }


def clear_frames() -> None:
    """Release and forget every value of the memos that have a
    ``release`` (the cached frames). A cold-recompute timing calls this
    with ``spark.catalog.clearCache()``: clearing only the catalog would
    leave these memos serving frames whose cache is gone, so the next
    build would recompute their subtrees per consumer instead of paying
    one cache fill."""
    for m in _MEMOS.values():
        if m.release is not None:
            while m:
                m._release(m.popitem()[1].value)
