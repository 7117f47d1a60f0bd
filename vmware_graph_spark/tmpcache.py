"""Session-scoped cache for artifacts queries must persist to disk.

Some registry queries materialize side artifacts (a persisted dedup
index, a two-phase streaming run's output + checkpoint) before
returning a lazy DataFrame that READS those files — so the files must
outlive the call. Previously each invocation leaked a fresh
``mkdtemp``; bench/selfcheck/scalebench loops invoke these queries
repeatedly, growing disk without bound (round-4 ADVICE).

Everything now lives under ONE process-scoped root, removed at exit,
keyed by (sf_dir, data mtime) so repeat invocations REUSE the artifact
instead of rebuilding it, while a regenerated dataset (new mtime) gets
a fresh key rather than stale results.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

_ROOT: str | None = None


def cache_root() -> str:
    """The process's single temp-cache root (created lazily, removed
    at interpreter exit)."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="vgs_query_cache_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def fresh_dir(prefix: str) -> str:
    """A new empty directory under :func:`cache_root`, removed with it."""
    return tempfile.mkdtemp(prefix=prefix, dir=cache_root())


def data_key(sf_dir: str, table: str = "events") -> str:
    """Cache key pinning both the dataset path and its generation
    time — a regenerated fixture invalidates the cached artifact."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        mtime = str(os.path.getmtime(path))
    except OSError:
        mtime = "0"
    return hashlib.md5(f"{sf_dir}|{table}|{mtime}".encode()).hexdigest()[:12]


def cache_dir(kind: str, key: str) -> str:
    """Deterministic subdirectory for one artifact family + key (not
    created — callers test for their own completion marker)."""
    return os.path.join(cache_root(), kind, key)
