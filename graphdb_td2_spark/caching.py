"""Session-scoped cache hygiene shared by every lake-artifact memo
(``graph/queries.py`` graph/und frames, ``graph/walks.py`` co-purchase
adjacency, ``graph/lpa.py`` label frames, ``similarity/ann.py`` /
``similarity/pq.py`` trained-index rows, ``recs/queries.py`` /recs
views).

The memos key by ``applicationId`` so a new session never sees another
session's entries — but entries for STOPPED sessions used to live until
process exit, pinning dead DataFrame references and driver-side row
lists in a long-lived server that cycles sessions (ADVICE r12). Every
cache now prunes stopped-session entries on access (the /recs views on
a cache miss) via the pattern ``similarity/pq.py`` introduced in r11,
hoisted here so every call site shares one definition.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import SparkSession


def session_stopped(sess: SparkSession) -> bool:
    """True when the session's SparkContext is gone or stopped (the
    defensive form from similarity/pq.py — any introspection failure
    counts as stopped, which at worst rebuilds a cache entry)."""
    try:
        return (
            sess.sparkContext._jsc is None
            or sess.sparkContext._jsc.sc().isStopped()
        )
    except Exception:
        return True


def evict_stopped(cache: dict, session_of: Callable[[Any], SparkSession]) -> None:
    """Drop every cache entry whose owning session has stopped.
    ``session_of`` maps a cached value to the SparkSession it belongs to
    (a DataFrame's ``.sparkSession``, or the session stored alongside
    driver-side rows)."""
    def _stopped(v: Any) -> bool:
        try:
            return session_stopped(session_of(v))
        except Exception:
            # a value whose session can't even be reached is dead weight
            return True

    for k in [k for k, v in cache.items() if _stopped(v)]:
        del cache[k]
