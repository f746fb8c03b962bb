"""The one process-level cache for per-corpus artifacts reused across
query calls: table schemas, shingle tables, near-dup pair sets, BPE
counts, k-means/PQ codebooks, PQ codes and PQ vectors.

One rule decides every reuse:

* identity — a path that has not been read yet is keyed by a
  recursive stat walk (relative name, size, mtime_ns of every file
  under it); a DataFrame by the same stats of its ``inputFiles()``
  plus a digest of its canonicalized plan, so a filtered or otherwise
  transformed input over the same files never matches the raw scan.
  A ``None`` identity (non-file input) is built and held for this
  call only, never reused;
* session — every entry records the SparkSession that built it and
  is never served to another session or after that session stops;
* one entry per cache name — a new key releases the old entry.
  DataFrame values are persisted when stored and unpersisted when
  evicted, so the cache holds at most one corpus per name.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import Counter
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

V = TypeVar("V")

_ENTRIES: dict[str, tuple] = {}  # name -> (key, value, session)
# reentrant: a builder may fill another name (the near-dup pair set
# builds on the shingle table) while the outer lookup holds the lock
_LOCK = threading.RLock()
# (name, "hit" | "miss") -> count, for callers reporting whether a
# sample was served from the cache
stats: Counter = Counter()


def _file_stat(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_size, st.st_mtime_ns


def path_key(path: str) -> tuple | None:
    """Identity of the file or directory tree at ``path``: the
    (relative name, size, mtime_ns) of every file under it, so an
    in-place rewrite anywhere below — nested partition directories
    included — changes the key.  None when the path cannot be read."""
    try:
        if not os.path.isdir(path):
            return path, ((os.path.basename(path), *_file_stat(path)),)
        files = []
        for root, _, names in os.walk(path):
            for nm in names:
                full = os.path.join(root, nm)
                files.append((os.path.relpath(full, path),
                              *_file_stat(full)))
    except OSError:
        return None
    return path, tuple(sorted(files))


def frame_key(df: DataFrame) -> tuple | None:
    """Identity of a DataFrame input: (path, size, mtime_ns) of every
    input file plus a digest of the canonicalized logical plan.
    Canonicalization normalizes exprIds (two fresh scans of one path
    give the same string) but strips file paths, so it is never the
    key on its own; the file stats tell same-schema corpora apart.
    None for non-file inputs."""
    files = []
    for p in sorted(df.inputFiles()):
        try:
            files.append((p, *_file_stat(p[5:] if p.startswith("file:")
                                         else p)))
        except OSError:
            files.append((p, -1, -1))
    if not files:
        return None
    # toJSON(), not toString(): the pretty form truncates field lists
    # at spark.sql.debug.maxToStringFields, so two wide schemas
    # differing past the cut would collide
    plan = df._jdf.queryExecution().analyzed().canonicalized().toJSON()
    return tuple(files), hashlib.sha256(plan.encode()).hexdigest()


def _alive(session: SparkSession) -> bool:
    try:
        return not session.sparkContext._jsc.sc().isStopped()
    except Exception:  # a stopped session can throw on access
        return False


def _release(value) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:  # owning session already stopped
            pass


def cached(name: str, ident, params: tuple, session: SparkSession,
           build: Callable[[], V]) -> V:
    """The value stored under ``name`` when it was built for the same
    input identity (``path_key``/``frame_key``), ``params`` and live
    ``session``; otherwise the old entry is released and ``build()``
    fills the slot.  A cached ``None`` is a value like any other."""
    key = None if ident is None else (ident, params)
    with _LOCK:
        entry = _ENTRIES.get(name)
        if entry is not None:
            k0, v0, s0 = entry
            if key is not None and k0 == key and s0 is session \
                    and _alive(session):
                stats[name, "hit"] += 1
                return v0
            del _ENTRIES[name]
            _release(v0)
        stats[name, "miss"] += 1
        value = build()
        if isinstance(value, DataFrame):
            value = value.persist()
        _ENTRIES[name] = (key, value, session)
        return value
