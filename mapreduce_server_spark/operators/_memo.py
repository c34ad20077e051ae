"""Session-scoped memoization for operator-internal ``.cache()`` frames.

Several operators cache an intermediate frame that feeds multiple
logical subtrees in the SAME query (ReuseExchange doesn't collapse the
duplicated subtrees — the STATUS trap). A bare per-invocation
``.cache()`` is correct but leaks: repeated runs in a long-lived serving
session accumulate one InMemoryRelation per call until LRU eviction
(round-10 ADVICE). This helper memoizes the cached frame per
(applicationId, sf_dir, tag) in a ``cache.Memo``, so the Nth invocation
reuses the first invocation's InMemoryRelation, and a fixture rewrite or
append rebuilds while unpersisting the replaced frame instead of
stranding it.

At 100 TB the analogue is a shared cluster cache / materialized
intermediate: build once per corpus version, serve every query from it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..cache import Memo, app_id, note_read

_FRAME_CACHE = Memo("frame", release=DataFrame.unpersist)


def session_cache(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build: Callable[[], DataFrame],
    table: str = "documents",
) -> DataFrame:
    """Return ``build()`` cached, memoized per (appId, sf_dir, tag) while
    ``table`` is unchanged. Callers cache frames derived from ``table``
    loaded before the call, so the build is recorded as reading it.
    Concurrent cold callers build exactly one InMemoryRelation."""

    def fill() -> DataFrame:
        note_read(sf_dir, table)
        return build().cache()

    return _FRAME_CACHE((app_id(spark), sf_dir, tag), fill)
