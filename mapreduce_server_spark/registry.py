"""Query registry — the single source of truth for the engine's surface.

Each operator module registers its queries with the :func:`query` decorator.
``__spark_entry__.py`` (the driver contract) and ``bench.py`` are thin views
over :data:`REGISTRY`, so adding an operator is exactly one decorated
function (plus its DuckDB oracle SQL, when SQL-expressible).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .cache import Entry, Memo, app_id

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: QueryFn
    #: the undecorated builder — always constructs a FRESH logical plan
    #: and touches no cache. The plan cache builds through
    #: ``REGISTRY[key].raw_fn`` looked up at build time, so a wrapped
    #: spec (a tracer's) sees every build.
    raw_fn: QueryFn
    #: ANSI SQL equivalent runnable by DuckDB over the same parquet views;
    #: ``None`` for non-SQL-expressible ops (driver falls back to rows-only).
    oracle: str | None
    #: SURVEY.md §2 category tag, e.g. "D.agg", "J.text" — for coverage reports.
    category: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


#: Plan cache: (applicationId, sf_dir, key) → plan, a ``cache.Memo``.
#:
#: Spark re-analyzes, re-optimizes and re-codegens every freshly
#: constructed plan (~0.4 s/query here — 5× the actual execution time at
#: sf0.1); unlike engines with prepared-statement caches it keeps nothing
#: across queries. A built plan is pinned to the file listing its scans
#: took, and a build may fold values collected from the data into the
#: plan, so an entry is only served while every table the build read
#: still has the fingerprint it had then; otherwise the key rebuilds.
#: Re-collecting a served plan re-executes it (AQE re-runs only the
#: stages whose shuffle output is gone). A hit costs file-system stats
#: only; entries never cross sessions (applicationId key).
_PLAN_CACHE = Memo("plan")


def _build(spark: SparkSession, sf_dir: str, key: str) -> Callable[[], DataFrame]:
    # looked up when called, so a wrapped builder is honoured
    return lambda: REGISTRY[key].raw_fn(spark, sf_dir)


def plan_entry(spark: SparkSession, sf_dir: str, key: str) -> Entry | None:
    """The memoized entry of ``key``, current or not; None if never built."""
    return _PLAN_CACHE.get((app_id(spark), sf_dir, key))


def build_plan(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """Build ``key`` afresh through ``REGISTRY[key].raw_fn`` and memoize
    it, replacing any older entry."""
    return _PLAN_CACHE.build((app_id(spark), sf_dir, key), _build(spark, sf_dir, key))


def memoized_plan(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """The memoized plan of ``key`` while its inputs are unchanged, else
    a fresh build."""
    return _PLAN_CACHE((app_id(spark), sf_dir, key), _build(spark, sf_dir, key))


def query(
    key: str,
    *,
    oracle: str | None = None,
    category: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the implementation of query ``key``.

    The registered callable serves the plan through the plan cache
    (:func:`memoized_plan`); the decorated function itself is returned
    unwrapped (tests composing fresh plans can call it directly).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in REGISTRY:
            raise ValueError(f"duplicate query key: {key}")

        def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
            return memoized_plan(spark, sf_dir, key)

        cached.__name__ = fn.__name__
        cached.__doc__ = fn.__doc__
        REGISTRY[key] = QuerySpec(
            key=key,
            fn=cached,
            raw_fn=fn,
            oracle=oracle,
            category=category,
            tags=tuple(tags),
        )
        return fn

    return deco
