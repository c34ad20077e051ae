"""Multi-query shared-scan scheduling for recurring batches.

A serving layer that runs the registry's queries one-at-a-time scans the
same fact table once per query. When a batch of queries is known up front
(dashboard refresh, the driver's correctness sweep, a report suite), the
scans can be shared: detect which base tables appear in ≥ ``min_share``
of the batch's plans, pin those scans (`.cache()`), run the batch —
Spark's CacheManager substitutes the in-memory relation into every plan
whose analyzed subtree matches the pinned scan — and unpin.

A recurring batch should redo only the work whose inputs changed (the
VLDB'15 recurring-workload line in PAPERS.md). :func:`run_shared` splits
the batch with the registry's input-fingerprinted plan cache:

- **reused**: a key whose plan-cache entry is still current is served
  from it. Its first reuse executes the memoized plan once and keeps the
  result rows (the registry's result fill); its shuffle outputs from the
  last run are still registered, so AQE re-runs only the result stage.
  Every later reuse returns the kept rows and runs no Spark job
  (q12_priority_class at sf0.01 on a 4-vCPU host: 0.45 s fresh,
  0.07 s to re-collect the plan, 0.008 s served). Reused keys do not
  count toward ``min_share`` and pin nothing.
- **changed**: a key with no plan yet, or whose recorded inputs changed.
  Its tables count toward ``min_share``; the shared ones are pinned, and
  the key is executed after the pin. A stale key takes its tables from
  its last build's recorded reads and is rebuilt only after the pin, so
  a builder that plans or runs a job eagerly (a tracer's plan capture,
  a collected query vector, an operator-internal ``.cache()``) plans
  against the pin too: a traced ``dashboard-refresh`` run read the
  pinned relation in none of its stale keys when they were rebuilt
  before the pin. A new key has to be built before the pin to learn its
  tables; a lazy build still uses the pin, because the CacheManager
  substitutes pinned scans when the plan is physically planned, at its
  first execution. No probe calls ``inputFiles()``: that runs Catalyst's
  optimizer and would fix the plan before the pin.
- ``side_effects`` keys run fresh every time.

Before this split every refresh re-planned and fully re-executed every
key, and sharing did not pay: in a traced ``dashboard-refresh`` round the
shared batch took 1.19 s against 1.01 s for the same keys run unshared
(0.85×), although two of its four keys read only tables that never
change.

Scale notes (100 TB): the sharing unit here is the table *scan*, cached
``MEMORY_AND_DISK`` (columnar batches, min/max batch stats → the
in-memory scan still prunes columns and skips batches). At 100 TB one
would not pin a full fact table; the same mechanism applies to the
batch's common *subplan* (e.g. the filtered day partition every
dashboard query starts from) — pin the narrowest shared fragment, which
is exactly what ``table_usage`` + a ``min_share`` threshold lets a
caller choose. Sharing trades one materialization (first query pays the
scan + cache write) for N−1 repeated scans; it wins whenever the
fragment is re-read more than once, and is strictly better than the
driver-side alternative of collecting and re-broadcasting."""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .. import registry
from ..registry import REGISTRY
from ..sources.loader import TABLE_NAMES, load_table


def tables_referenced(df: DataFrame, sf_dir: str) -> set[str]:
    """Base fixture tables a plan reads, via ``df.inputFiles()`` (the
    public lineage API — robust to aliasing/subqueries; the file path is
    the identity of the scan). It optimizes ``df``, so :func:`run_shared`
    uses the recorded reads instead; this is the cross-check for them."""
    sf = sf_dir.rstrip("/")
    files = df.inputFiles()
    return {
        t
        for t in TABLE_NAMES
        if any(f"{sf}/{t}.parquet" in f for f in files)
    }


def table_usage(tables: Mapping[str, Iterable[str]]) -> Counter:
    """How many of the batch's plans read each base table, given each
    key's tables (the plan cache's recorded reads)."""
    usage: Counter = Counter()
    for ts in tables.values():
        usage.update(set(ts))
    return usage


@dataclass
class SharedRunReport:
    #: tables pinned for the batch (read by ≥ min_share changed plans)
    shared_tables: list[str] = field(default_factory=list)
    #: keys served from their still-current plan-cache entry (the
    #: memoized plan, or its kept result from the second reuse on)
    reused: list[str] = field(default_factory=list)
    #: per executed (not reused) query: did its plan read a pinned
    #: in-memory relation?
    used_cache: dict[str, bool] = field(default_factory=dict)
    #: per-query result row counts (for quick sanity display)
    rows: dict[str, int] = field(default_factory=dict)


def run_shared(
    spark: SparkSession,
    sf_dir: str,
    keys: list[str],
    min_share: int = 2,
) -> tuple[dict[str, list], SharedRunReport]:
    """Run a batch of registry queries, reusing still-current plans and
    sharing the base-table scans of the rest (see the module docstring).

    Returns (results, report): results maps query key → collected rows
    (same rows as running each query alone — reuse and sharing are
    semantically transparent); the report records what was reused, what
    was shared and which executed plans actually read the pinned
    relation (observable as an InMemoryTableScan node).
    """
    report = SharedRunReport()
    plans: dict[str, DataFrame] = {}  # reused, or new and built here
    tables: dict[str, set[str]] = {}  # changed key → tables it reads
    for k in keys:
        # side-effecting queries (sink_*, matview refresh, persisted-index
        # builds) write when built: they run once, fresh, below
        if "side_effects" in REGISTRY[k].tags:
            continue
        entry = registry.plan_entry(spark, sf_dir, k)
        if entry is not None and entry.current():
            plans[k] = registry.memoized_plan(spark, sf_dir, k)  # a counted hit
            report.reused.append(k)
            continue
        if entry is None:  # new: built now, to learn its tables
            plans[k] = registry.build_plan(spark, sf_dir, k)
            entry = registry.plan_entry(spark, sf_dir, k)
        tables[k] = entry.tables(sf_dir)
    usage = table_usage(tables)
    report.shared_tables = sorted(t for t, n in usage.items() if n >= min_share)
    pinned = [load_table(spark, sf_dir, t) for t in report.shared_tables]
    for p in pinned:
        p.persist()
    try:
        results: dict[str, list] = {}
        for k in keys:
            if k in plans:
                df = plans[k]
            elif k in tables:  # stale: rebuilt after the pin
                df = registry.build_plan(spark, sf_dir, k)
            else:  # side effects
                df = REGISTRY[k].raw_fn(spark, sf_dir)
            results[k] = df.collect()
            report.rows[k] = len(results[k])
            if k not in report.reused:
                executed = df._jdf.queryExecution().executedPlan().toString()
                report.used_cache[k] = "InMemoryTableScan" in executed
    finally:
        for p in pinned:
            p.unpersist()
    return results, report
