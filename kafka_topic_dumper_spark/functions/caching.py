"""Tracked persists for operator-internal intermediates.

Several operators persist() a mid-plan DataFrame (LSH banded indexes,
inverted shingle indexes, candidate-pair sets) because it feeds two or
more consumers within the same returned plan. The operator itself can
never unpersist — the caller materializes the result lazily, after the
operator returned — so a bare persist() leaks cached partitions in a
long-lived session (one per invocation).

Every such persist goes through :func:`tracked_persist`; a session
owner (bench loop, test harness, notebook user) scopes a query with
:func:`operator_caches` — everything an operator pinned inside the
block is released on exit, even on error — or calls
:func:`release_persisted` manually. ``spark.catalog.clearCache()``
also works (it empties the whole CacheManager) but is a larger
hammer: it drops caches the CALLER created too.

At 100 TB the same intermediates would be explicit checkpoints or
stored indexes with managed lifetimes; in-session pin-and-release is
the local analogue.

The on-disk twin lives here too. Rows that replay a file source, read
a stored index or round-trip a format write their input once per
process through :func:`materialized`; one-shot working directories
come from :func:`scratch_dir`. Both are removed at interpreter exit,
when no plan can still be reading them.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
# key → path of what materialized() built. Callers lead each key with a
# tag (a family name such as "stream" or "index"), so entries of
# different families cannot collide.
_MATERIALIZED: dict[tuple, str] = {}


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """persist() and register for release by the enclosing
    :func:`operator_caches` scope (or a manual
    :func:`release_persisted`)."""
    out = df.persist(level)
    _TRACKED.append(out)
    return out


def release_persisted(mark: int = 0) -> int:
    """Unpersist tracked intermediates registered at stack position
    ``mark`` or later (default: all); returns how many were released.
    Safe to call at any time — releasing a DataFrame some plan still
    needs only costs recomputation, never correctness."""
    n = 0
    while len(_TRACKED) > mark:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


@contextmanager
def operator_caches():
    """Scope for operator-internal persists: releases exactly the
    caches registered INSIDE the block (LIFO), even on error, leaving
    caches pinned by outer scopes untouched — so a caller that forgets
    a manual release can't leak cached partitions across queries in a
    long-lived session. Nests cleanly.

    >>> with operator_caches():
    ...     force(QUERIES["dedup_minhash_lsh"](spark, sf))
    """
    mark = len(_TRACKED)
    try:
        yield
    finally:
        release_persisted(mark)


def scratch_dir(prefix: str) -> str:
    """A new temp directory, removed at interpreter exit."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def materialized(
    key: tuple, build: Callable[[str], None], *, prefix: str, leaf: str
) -> str:
    """``<scratch_dir(prefix)>/<leaf>``, written by ``build(path)`` once
    per process per ``key``. The bench and the oracle harness call a
    row many times per process; building a corpus-sized input anew on
    every call leaked /tmp. A build that raises caches nothing, so the next call
    builds again (its partial directory goes at exit)."""
    if key not in _MATERIALIZED:
        path = f"{scratch_dir(prefix)}/{leaf}"
        build(path)
        _MATERIALIZED[key] = path
    return _MATERIALIZED[key]
