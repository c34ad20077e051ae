"""Session-scoped memoization for operator-internal ``.cache()`` frames.

Several operators cache an intermediate frame that feeds multiple
logical subtrees in the SAME query (ReuseExchange doesn't collapse the
duplicated subtrees — the STATUS trap). A bare per-invocation
``.cache()`` is correct but leaks: repeated runs in a long-lived serving
session accumulate one InMemoryRelation per call until LRU eviction
(round-10 ADVICE). This helper memoizes the cached frame per
(applicationId, sf_dir, tag, source-table fingerprint) — the key
_SCAN_CACHE uses — so the Nth invocation reuses the first invocation's
InMemoryRelation, and a fixture rewrite or append rebuilds while
unpersisting the stale entry instead of stranding it.

At 100 TB the analogue is a shared cluster cache / materialized
intermediate: build once per corpus version, serve every query from it.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.loader import Fingerprint, note_read

_FRAME_CACHE: dict[tuple[str, str, str, Fingerprint], DataFrame] = {}
_FRAME_LOCK = threading.Lock()


def clear_frame_cache() -> None:
    """Unpersist and forget every memoized frame (all sessions).

    Measurement hook (round-14, VERDICT r13 #2): an honest
    full-recompute timing must pay each operator's cache FILL, so the
    instrument clears the Spark cache catalog before every timed run —
    but `spark.catalog.clearCache()` alone would leave these memoized
    DataFrame handles pointing at now-unregistered plans, silently
    downgrading the next build to *uncached* multi-consumer recompute
    (worse than either honest state). Clearing the memo too makes the
    next `session_cache` call rebuild and re-register, so the timed run
    pays exactly one fill per site — the true cold cost."""
    with _FRAME_LOCK:
        while _FRAME_CACHE:
            _, df = _FRAME_CACHE.popitem()
            try:
                df.unpersist()
            except Exception:
                pass


def session_cache(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build: Callable[[], DataFrame],
    table: str = "documents",
) -> DataFrame:
    """Return ``build()`` cached, memoized per (appId, sf_dir, tag,
    fingerprint of ``table``). Double-checked lock: concurrent cold
    callers serialize so exactly one InMemoryRelation is built. A hit
    still records ``table`` into the open plan-build recording."""
    fp = note_read(sf_dir, table)
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, tag, fp)
    if key not in _FRAME_CACHE:
        with _FRAME_LOCK:
            if key not in _FRAME_CACHE:
                # a fixture rewrite leaves a same-prefix entry at the old
                # fingerprint — unpersist it rather than strand the memory
                for stale in [
                    k for k in _FRAME_CACHE if k[:3] == (app, sf_dir, tag)
                ]:
                    try:
                        _FRAME_CACHE.pop(stale).unpersist()
                    except Exception:
                        pass
                _FRAME_CACHE[key] = build().cache()
    return _FRAME_CACHE[key]
