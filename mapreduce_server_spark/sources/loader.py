"""Shared table loader — every entry point reads tables through here.

The MapReduce model's input layer is InputFormat/RecordReader over file
splits [MR04 §3.1]; Spark's parquet source subsumes it (splits ≙ partitions,
vectorized reader, predicate pushdown). This module adds the two things the
fixtures need on top of ``spark.read.parquet``:

1. **events ts normalization** (SURVEY.md §1.3, updated round 6): the
   fixture's ``events.parquet`` timestamp encoding has drifted across
   driver regenerations — originally TIMESTAMP(NANOS) (which Spark 4.x
   reads as int64 nanos under ``spark.sql.legacy.parquet.nanosAsLong``),
   currently TIMESTAMP(MICROS) (which Spark reads as TIMESTAMP_NTZ).
   :func:`_normalize_events_ts` dispatches on the dtype actually read:
   int64 → ``timestamp_micros(ts div 1000)`` (exact — data is µs-granular);
   TIMESTAMP_NTZ → ``cast('timestamp')`` (exact under the pinned UTC
   session tz; the cast matters because ``unix_micros``/``unix_seconds``
   reject NTZ); TimestampType → pass-through. Never assume one encoding.
2. **conf pinning**: the driver calls our queries with *its own*
   SparkSession, which may lack the nanos conf or run in a non-UTC session
   timezone. Both are runtime-settable SQL confs, so we pin them here on
   every load — idempotent, and keeps Spark↔DuckDB timestamp semantics
   aligned (DuckDB treats the naive parquet timestamps as-is; UTC session
   tz makes Spark do the same).
"""

from __future__ import annotations

import os
import urllib.parse
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType, TimestampType

from ..cache import Entry, Memo, app_id, new_parts, note_read, parts, table_path

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: measure columns under the ARCHITECTURE §23 fixed-point contract
#: (2-dp quantum, finite-or-NULL). The sweep-axis fixtures honor it by
#: construction (build_fixture re-quantizes); this map is what the
#: opt-in load-time validation below checks on FOREIGN corpora.
MEASURE_COLUMNS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "orders": ("o_totalprice",),
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_retailprice",),
    "events": ("value",),
}

#: rows sampled per table by the contract check — enough to catch a
#: systematically sub-quantum or NaN-bearing regeneration (the round-12
#: ×0.1 probe failure mode was EVERY row off-quantum), cheap enough to
#: run per process (one limit-pushed scan per measure table).
_VALIDATE_SAMPLE_ROWS = 8192

#: path → True once the table's measures passed the contract check
_VALIDATED = Memo("validated")


def validate_measure_contract(
    spark: SparkSession, sf_dir: str, name: str, sample_rows: int | None = None
) -> None:
    """Assert a sample of ``name``'s measure columns satisfies the
    ARCHITECTURE §23 at-rest contract: finite-or-NULL and exactly at the
    2-dp quantum (``round(x, 2) == x``).

    Closes the round-12/13 enforcement gap: ``ingest.quantize_measures``
    is the documented single normalization gate, but nothing on the load
    path checked that a *foreign* corpus (or a silently drifted fixture
    regeneration) actually satisfies the contract — a sub-quantum corpus
    would surface as dozens of mysterious oracle divergences (the exact
    ×0.1-probe experience, 44 keys) instead of one loud error here.

    Opt-in: set ``SPARK_GRAFT_VALIDATE_MEASURES=1`` (tools/driver_sim.py
    sets it) — the check costs one limit-pushed scan per measure table
    per process, which the hot bench path should not pay every run."""
    cols = list(MEASURE_COLUMNS.get(name, ()))
    if not cols:
        return
    df = spark.read.parquet(table_path(sf_dir, name))
    cols = [c for c in cols if c in df.columns]
    if not cols:
        return
    n = sample_rows or _VALIDATE_SAMPLE_ROWS
    sample = df.select(*cols).limit(n)
    viol = sample.select(
        *[
            F.count_if(
                F.col(c).isNotNull()
                & (
                    F.isnan(F.col(c))
                    | (F.abs(F.col(c)) == F.lit(float("inf")))
                    | (F.round(F.col(c), 2) != F.col(c))
                )
            ).alias(c)
            for c in cols
        ]
    ).first()
    bad = {c: viol[c] for c in cols if viol[c]}
    if bad:
        raise ValueError(
            f"{name} at {sf_dir} violates the measure contract "
            f"(finite-or-NULL, 2-dp quantum) on sampled rows: {bad} — "
            "quantize at ingest (ingest.quantize_measures) before loading; "
            "sub-quantum/NaN measures are out of the parity contract "
            "(ARCHITECTURE §23)"
        )


def _maybe_validate(spark: SparkSession, sf_dir: str, name: str) -> None:
    opted_in = os.environ.get("SPARK_GRAFT_VALIDATE_MEASURES", "") == "1"
    if not opted_in or name not in MEASURE_COLUMNS:
        return

    def check() -> bool:
        note_read(sf_dir, name)
        validate_measure_contract(spark, sf_dir, name)
        return True

    _VALIDATED(table_path(sf_dir, name), check)


_RUNTIME_CONFS = {
    # Drift armor, NOT dead conf: the fixture's events.ts encoding has
    # flipped between TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
    # driver regenerations. This conf only affects NANOS-encoded files
    # (read as int64, which _normalize_events_ts then converts exactly);
    # on the current micros fixture it is a no-op.
    # tests/test_loader_drift.py pins all three encodings INCLUDING that
    # this conf is harmless on micros — do not remove it as cleanup.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


#: table-scan cache: (applicationId, sf_dir, name) → :class:`_Scan`.
#: Scans are immutable plans over a file listing taken when they were
#: made; caching skips the per-call parquet footer read and the schema
#: inference job (~80 ms/table). If the fixture is regenerated or
#: appended to under a live process (the events timestamp encoding
#: changed between rounds; a log directory gains part files), the entry
#: is replaced and the listing and dtype dispatch re-run on the fresh
#: files. Under the append rule (``cache.new_parts``: every part the
#: entry was built over is still there unchanged) the new scan reads
#: with the recorded raw schema, so an append costs no inference job;
#: a rewritten or removed part infers the schema again. ``load_parts``
#: reads single parts with that schema (a view's refresh of the parts an
#: append added).
_SCAN_CACHE = Memo("scan")


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType, dispatching on the dtype
    the parquet reader actually produced (see module docstring — the
    fixture's encoding has changed across driver regenerations):

    - ``LongType``: int64 nanos (TIMESTAMP(NANOS) fixture under the
      ``nanosAsLong`` conf) → exact integer truncation to µs, then
      ``timestamp_micros``.
    - ``TimestampNTZType``: TIMESTAMP(MICROS) fixture → cast to
      TimestampType (exact under the pinned UTC session timezone; needed
      because ``unix_micros``/``unix_seconds`` reject NTZ inputs).
    - ``TimestampType``: already normalized — pass through.
    """
    dtype = df.schema["ts"].dataType
    if isinstance(dtype, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dtype, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(dtype, TimestampType):
        return df
    raise TypeError(f"events.ts has unexpected parquet-read dtype {dtype}")


def ensure_confs(spark: SparkSession) -> None:
    """Pin the runtime confs on every call (no memoization: a foreign
    session can flip a runtime-settable conf mid-process, and the
    re-check is two sub-ms ``conf.get`` calls)."""
    for k, v in _RUNTIME_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


class _Scan(NamedTuple):
    frame: DataFrame
    #: the parquet schema the files were read with (before normalization)
    schema: StructType


def _read(
    spark: SparkSession, sf_dir: str, name: str, old: Entry | None = None
) -> _Scan:
    """Scan ``name``; with the schema of ``old``, a stale scan of it, when
    the table was only appended to since ``old`` was built."""
    fp = note_read(sf_dir, name)  # fingerprinted before Spark lists the files
    reader = spark.read
    if old is not None:
        was = parts(old.reads.get((sf_dir, name)))
        if new_parts(was, parts(fp)) is not None:
            reader = reader.schema(old.value.schema)
    raw = reader.parquet(table_path(sf_dir, name))
    df = _normalize_events_ts(raw) if name == "events" else raw
    return _Scan(df, raw.schema)


def _scan(spark: SparkSession, sf_dir: str, name: str) -> _Scan:
    """The memoized scan of table ``name``, with the confs pinned."""
    ensure_confs(spark)
    key = (app_id(spark), sf_dir, name)

    def scan() -> _Scan:
        _maybe_validate(spark, sf_dir, name)
        return _read(spark, sf_dir, name, _SCAN_CACHE.get(key))

    return _SCAN_CACHE(key, scan)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; applies the events timestamp normalization.
    The table is recorded with its fingerprint into the open
    ``cache.recording``."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return _scan(spark, sf_dir, name).frame


def load_parts(
    spark: SparkSession, sf_dir: str, name: str, names: list[str] | None = None
) -> DataFrame:
    """Table ``name`` (any table of ``sf_dir``, fixture or not) like
    :func:`load_table`, or only its parts ``names`` (``cache.parts``
    names) read with the raw schema of its memoized scan. That scan
    follows the append rule, so reading the parts an append added starts
    no schema-inference job."""
    scan = _scan(spark, sf_dir, name)
    if names is None:
        return scan.frame
    root = table_path(sf_dir, name)
    raw = spark.read.schema(scan.schema).parquet(
        *(os.path.join(root, n) if n else root for n in names)
    )
    return _normalize_events_ts(raw) if name == "events" else raw


def load_table_fresh(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Unmemoized variant of :func:`load_table` — a genuinely distinct scan
    lineage each call. Required when a plan COGROUPS a table with itself:
    with both sides sharing one scan, DeduplicateRelations re-aliases the
    right side and column pruning then strips it down to its grouping keys
    (observed under ``count()`` on Spark 4.1 — the right-side pandas frame
    arrives without its payload columns). Distinct lineages sidestep the
    mis-pruning; plain self-JOINs are unaffected."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_confs(spark)
    return _read(spark, sf_dir, name).frame


#: (applicationId, sorted input files, parallelism) → scan partition
#: count, for :func:`fan_out_scan`'s conditionality probe. A build
#: records the tables that own the files: an entry is served while they
#: are unchanged, and dropped once one is deleted.
_FANOUT_NPART = Memo("fanout")


def _note_owners(files: tuple[str, ...]) -> None:
    """Record the parquet table of each input-file URI: its
    ``<name>.parquet`` directory, or the file itself."""
    owners = set()
    for u in files:
        d, f = os.path.split(urllib.parse.unquote(urllib.parse.urlparse(u).path))
        if d.endswith(".parquet"):
            d, f = os.path.split(d)
        if f.endswith(".parquet"):
            owners.add((d, f[: -len(".parquet")]))
    for d, name in owners:
        note_read(d, name)


def fan_out_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition for a scan whose FILE LAYOUT under-splits
    the host — guide §2.5's "one huge unsplittable file ... repartition
    immediately after the read" case. Every committed fixture parquet is
    a SINGLE row group, so a parquet split can never parallelize it:
    each table scans as exactly one task, and a map-expansion operator
    (the ×32 hash-replicate in stat_permtest/stat_bootstrap — ~19M md5s
    at sf0.1) runs single-threaded no matter how many cores the session
    has.

    Conditional by construction: a no-op whenever the scan already
    splits to ≥ the session's default parallelism (any real multi-file
    corpus — at 100 TB the scan has thousands of splits and this adds
    ZERO plan nodes), so the extra exchange exists only where it buys
    the cores back, and it moves the NARROW pre-expansion rows, never
    the expanded stream.

    Correctness envelope: round-robin repartitioning changes which
    partition a row lands in, so callers must feed partition-order-FREE
    aggregation states only (exact decimal/integer sums, counts,
    min/max — the ARCHITECTURE §23 measure discipline). Raw double sums
    would change fold order; do not route them through here.

    Round 14 (ADVICE r13): the split-count probe is memoized per
    (application, input file set, parallelism) — ``df.rdd`` forces a
    full physical-plan → RDD translation on every call, and this helper
    sits on ~10 hot operator build paths. The probe frames in tests
    (range(), no files) key to an empty file set and skip the memo.

    Scan-only contract: ``df`` must be a table scan with at most narrow
    operators (projection, filter) above it. Such a frame's partition
    count depends only on the file layout, so the file set is the right
    key. The key ignores the plan above the scan and any later change
    of the split confs (e.g. ``maxPartitionBytes``): a shuffled or
    aggregated frame over the same files would be served the scan's
    memoized count and mis-decide the fan-out."""
    target = spark.sparkContext.defaultParallelism
    files = tuple(sorted(df.inputFiles()))
    if files:
        def probe() -> int:
            _note_owners(files)
            return df.rdd.getNumPartitions()

        n = _FANOUT_NPART((app_id(spark), files, target), probe)
    else:
        n = df.rdd.getNumPartitions()
    if n >= target:
        return df
    return df.repartition(target)


class Tables:
    """Attribute-style access to the fixture tables of one scale factor.

    >>> t = Tables(spark, "/root/testdata/sf0.01")
    >>> t.lineitem.join(t.orders, ...)

    Each access is a fresh logical scan (cheap — metadata only); Catalyst
    dedupes/cascades pushdown per query plan, so there is nothing to cache.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return load_table(self._spark, self._sf_dir, name)
