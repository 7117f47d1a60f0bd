"""One commit protocol for every directory the engine persists.

The reference refreshes in one Neo4j transaction, so a half-finished
run never shows (refresh-vmware.cypher:26-31,525-530). A directory of
parquet tables gets its commit point here instead: a marker, ``MARK``,
that writers remove first (:func:`unmark`) and write last (:func:`mark`),
so :func:`read_mark` refuses a torn directory with :class:`Unmarked`.
State replaced whole is written to ``target.staging``, marked, and
renamed into place by :func:`swap_in`; :func:`recover` repairs a swap
that died part way. No other engine module writes a marker or renames
a directory (``tests/test_commit.py``). Stdlib only, so ``operators``
can import it without the store.
"""

from __future__ import annotations

import json
import os
import shutil

MARK = "format.json"


class Unmarked(FileNotFoundError, ValueError):
    """A persisted directory without its commit marker: absent, never
    written, or torn by a write that did not finish."""


def write_atomic(path: str, text: str) -> None:
    """Temp file + one rename: a crash leaves the old file or the new."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def unmark(path: str) -> None:
    try:
        os.remove(os.path.join(path, MARK))
    except FileNotFoundError:
        pass


def mark(path: str, meta: dict) -> None:
    """Commit ``path`` once all its tables are written. ``path`` must
    exist, so a directory removed under its writer fails here instead
    of committing empty."""
    write_atomic(os.path.join(path, MARK), json.dumps(meta, sort_keys=True))


def marked(path: str) -> bool:
    return os.path.isfile(os.path.join(path, MARK))


def read_mark(path: str, what: str) -> dict:
    """The marker of ``path``, or :class:`Unmarked` naming the path."""
    try:
        with open(os.path.join(path, MARK)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise Unmarked(
            f"{what} at {path} has no {MARK} marker: never written, or its "
            "write did not finish; rebuild it"
        ) from None


def _parked(target: str, suffix: str) -> str:
    return target.rstrip("/") + suffix


def recover(target: str) -> None:
    """With ``target`` missing, restore the parked ``target.old``;
    failing that, promote ``target.staging`` only if it is marked, and
    delete it if not."""
    if os.path.isdir(target):
        return
    old, staged = _parked(target, ".old"), _parked(target, ".staging")
    if os.path.isdir(old):
        os.rename(old, target)
    elif marked(staged):
        os.rename(staged, target)
    else:
        shutil.rmtree(staged, ignore_errors=True)


def stage(target: str) -> str:
    """Recover ``target``, clear the parked copies an earlier swap left,
    and return the empty sibling to write the next state into."""
    recover(target)
    staged = _parked(target, ".staging")
    for d in (staged, _parked(target, ".old")):
        shutil.rmtree(d, ignore_errors=True)
    return staged


def swap_in(staged: str, target: str) -> None:
    """Replace ``target`` by the marked ``staged``: park the target at
    ``target.old``, rename ``staged`` into place, drop the parked copy.
    A crash leaves ``target`` whole, or missing beside ``target.old``
    for :func:`recover`. On an object store (no atomic directory
    rename) the same shape is a new prefix plus a pointer swap."""
    read_mark(staged, "staged copy")
    old = _parked(target, ".old")
    if os.path.isdir(target):
        os.rename(target, old)
    os.rename(staged, target)
    shutil.rmtree(old, ignore_errors=True)
