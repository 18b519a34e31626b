"""Derived state: the one registry of in-memory memos.

Table frames, query plans, fits and pair frames are pure functions of
the corpus they were built from, so each entry is keyed by
``(kind, abspath(sf_dir), corpus fingerprint, params)``.  The corpus
fingerprint is `artifacts.table_fingerprint` (file names, sizes,
`st_mtime_ns`) over every catalog table: a table rewritten in place
misses instead of serving the old result.  The registry belongs to one
`(applicationId, sessionUUID)`; a call from any other session drops
every entry, since a DataFrame pins the session that built it.
`clear()` is the single reset and `STATS` counts hits and misses per
kind.  Entries die with the process, so they need no builder
fingerprint; what persists goes through `artifacts.corpus_artifact`.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

from . import catalog

STATS: dict[str, dict[str, int]] = {}

_entries: dict = {}
_owner: tuple[str, str] | None = None
_lock = threading.Lock()


def session_token(spark: SparkSession) -> tuple[str, str]:
    """`(applicationId, sessionUUID)`, fixed for the life of the Python
    session object, so its py4j round trips are paid once."""
    tok = getattr(spark, "_derived_owner", None)
    if tok is None:
        try:
            sess = str(spark._jsparkSession.sessionUUID())
        except Exception:  # non-classic backends without the JVM handle
            sess = f"pyid-{id(spark)}"
        tok = (spark.sparkContext.applicationId, sess)
        spark._derived_owner = tok
    return tok


def get(
    spark: SparkSession,
    kind: str,
    sf_dir: str | None,
    params: Any,
    build: Callable[[], Any],
) -> Any:
    """The `kind` entry for `params` over the corpus as it is now,
    built on a miss.  `sf_dir=None` keys on `params` alone."""
    global _owner
    # imported here: the operators package imports catalog, which
    # imports this module
    from .operators.artifacts import table_fingerprint

    owner = session_token(spark)
    fp = sf_dir and tuple(table_fingerprint(sf_dir, t) for t in catalog.TABLES)
    key = (kind, sf_dir and os.path.abspath(sf_dir), fp, params)
    with _lock:
        if _owner != owner:
            _entries.clear()
            _owner = owner
        hit = key in _entries
        got = _entries.get(key)
        counts = STATS.setdefault(kind, {"hit": 0, "miss": 0})
        counts["hit" if hit else "miss"] += 1
    if hit:
        return got
    got = build()
    with _lock:
        if _owner == owner:
            got = _entries.setdefault(key, got)  # a racing build may have won
    return got


def clear() -> None:
    """Forget every entry; the next call of each kind rebuilds."""
    with _lock:
        _entries.clear()
