"""Materialized views, refreshed at the cost of the appended parts.

The recurring-workload pattern (the VLDB'15 reuse line in PAPERS.md): a
dashboard aggregate re-run hourly over an append-only event log should
pay for the new data, not for the history. This module materializes an
aggregate partitioned on a coarse key (e.g. day) over one source table
and refreshes it by set difference:

    new = partition keys in the source's new parts  −  keys materialized

and writes ONLY those keys by dynamic partition overwrite (idempotent
per partition — a re-run of the same refresh replaces, never
duplicates).

**One write per refresh.** A refresh writes the aggregate of the
source rows it scans, filtered on the partition column to the keys not
materialized yet (Catalyst pushes that filter below the aggregate), in
one dynamic-overwrite write; the keys rebuilt are the partition
directories after the write minus those before. No key-discovery job
runs.

**Covered parts.** The view records the source parts its
materialization covers, each as ``(name, mtime_ns, size)``. A refresh
lists the source table on the driver and applies the append rule
(``cache.new_parts``). When every covered part is still there and
unchanged, the refresh scans only the new parts, read through
``loader.load_parts`` with the raw schema of the loader's scan memo,
which follows the same rule, so no inference job runs. That is exact
under the append-only contract below: every key of a covered part was
materialized by the refresh that covered it, so a key not yet
materialized can occur only in a new part, and all its rows are there.
Any covered part rewritten or gone, a missing view directory, or
``force=`` is a full rediscovery instead: the same write over every
part (the schema inferred again after a rewrite), with the ``force``d
keys rebuilt as well. The record lives beside the materialization:
deleting the view directory resets it, and the ``cache`` module's sweep
drops it once the source is gone.

Why parts and not the key predicate: ``to_date(ts) IN (...)`` cannot
prune a flat directory of part files, so a predicate-driven refresh read
the whole log twice per round, discovery and rebuild, to find one
appended day (ARCHITECTURE §10 has the measured rows and tasks). A
source laid out by day would let the predicate prune; an append-only
log of part files does not.

Correctness domain: exact for sources that are append-only at partition
granularity (closed partitions never gain rows). A source that back-fills
an already-materialized partition needs the partition marked dirty —
``refresh(force=[...])`` — or a watermark-delayed refresh policy; that
staleness contract is the standard one for log-structured MVs.

Reading: ``read`` passes the view's schema (recorded from the rebuild's
analyzed plan) to the reader, and ``session.get_spark`` lists partition
directories on the driver, so reading the view is the one job that
scans it — no schema-inference job, no per-directory listing job.
"""

from __future__ import annotations

import dataclasses
import os
import urllib.parse
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..cache import (
    Fingerprint,
    Memo,
    Parts,
    new_parts,
    note_read,
    note_reads,
    parts,
    table_path,
)
from ..scratch import SCRATCH, owned
from ..sources.loader import load_parts

#: build(src) → the aggregate of the source rows ``src``, the partition
#: column among its columns.
BuildFn = Callable[[DataFrame], DataFrame]


@dataclasses.dataclass(frozen=True)
class Covered:
    """What a view's materialization covers."""

    #: the source parts every materialized key was discovered over
    parts: Parts
    #: the materialization's read schema
    view_schema: StructType | None


@dataclasses.dataclass(frozen=True)
class Refresh:
    """How one :meth:`MaterializedView.refresh` ran."""

    #: "incremental" (new parts only) or "full" (every part)
    mode: str
    parts_scanned: int
    parts_total: int
    #: the partition keys rebuilt
    rebuilt: list[str]


#: view path → :class:`Covered`, recorded with the source's fingerprint.
#: Read with ``get`` (an append changes the fingerprint but keeps the
#: record valid); the memo sweep drops a record whose source is gone.
_COVERED = Memo("matview")


class MaterializedView:
    def __init__(
        self,
        name: str,
        partition_col: str,
        source: str,
        build: BuildFn,
    ):
        self.name = name
        self.partition_col = partition_col
        #: the source table's name: ``<sf_dir>/<source>.parquet``
        self.source = source
        self.build = build
        #: how the last :meth:`refresh` on this object ran
        self.last_refresh: Refresh | None = None

    def _table(self, sf_dir: str) -> tuple[str, str]:
        """The view's directory as a ``cache`` table ``(dir, name)``, so
        a read can record it like a fixture table. pid-tagged: the MV is
        process-private serving state (like the IVF index) — concurrent
        applications each refresh their own copy rather than racing one
        directory; atexit reclaims it."""
        tag = os.path.basename(os.path.normpath(sf_dir))
        return os.path.join(SCRATCH, "matviews"), f"{self.name}_{tag}_p{os.getpid()}"

    def path(self, sf_dir: str) -> str:
        return owned(table_path(*self._table(sf_dir)))

    #: directory name Spark writes for a NULL partition value — never a
    #: source key string, so it must not enter the set difference
    _NULL_SENTINEL = "__HIVE_DEFAULT_PARTITION__"

    def materialized_keys(self, sf_dir: str) -> set[str]:
        """Partition keys already materialized — from the partition
        directory names (no data IO). Directory names carry Hive
        partition-value escaping (':' → '%3A', etc.), so unquote before
        comparing against source-key strings — otherwise any escaped key
        never matches and refresh() rebuilds it every call (correct but
        never incremental)."""
        out = self.path(sf_dir)
        if not os.path.isdir(out):
            return set()
        prefix = f"{self.partition_col}="
        return {
            urllib.parse.unquote(raw)
            for raw in (
                d[len(prefix):] for d in os.listdir(out) if d.startswith(prefix)
            )
            if raw != self._NULL_SENTINEL
        }

    def covered(self, sf_dir: str) -> Covered | None:
        """What the materialization covers; None without one."""
        path = self.path(sf_dir)
        entry = _COVERED.get(path)
        if entry is None or not os.path.isdir(path):
            return None
        return entry.value

    def _record(self, sf_dir: str, fp: Fingerprint, **fields) -> None:
        """Update the covered record; ``fp`` is the source's fingerprint."""

        def fill() -> Covered:
            note_reads({(sf_dir, self.source): fp})
            old = self.covered(sf_dir) or Covered({}, None)
            return dataclasses.replace(old, **fields)

        _COVERED.build(self.path(sf_dir), fill)

    def refresh(
        self, spark: SparkSession, sf_dir: str, force: list[str] | None = None
    ) -> list[str]:
        """Materialize the keys of the source's new parts that are not
        materialized yet, plus the ``force``-dirtied ones; returns the
        partition keys actually rebuilt and records how it ran in
        ``last_refresh``."""
        # recorded, so a memoized plan over the view rebuilds on an append
        fp = note_read(sf_dir, self.source)
        now = parts(fp)
        old = self.covered(sf_dir)
        new = None if force or old is None else new_parts(old.parts, now)
        scan = sorted(now) if new is None else new
        rebuilt: list[str] = []
        if scan:
            src = load_parts(spark, sf_dir, self.source, new)
            rebuilt = self.rebuild(spark, sf_dir, src, force or [])
            self._record(sf_dir, fp, parts=now)
        self.last_refresh = Refresh(
            "full" if new is None else "incremental", len(scan), len(now), rebuilt
        )
        return rebuilt

    def rebuild(
        self,
        spark: SparkSession,
        sf_dir: str,
        src: DataFrame | None = None,
        force: Iterable[str] = (),
    ) -> list[str]:
        """Rebuild, in one write, every key of the source rows ``src`` (by
        default the whole source) not materialized yet and the ``force``
        ones: ``build(src)`` filtered on the partition column (Catalyst
        pushes the filter below the aggregate). Returns the keys rebuilt:
        the partition directories the write added, and ``force``."""
        fp = note_read(sf_dir, self.source)
        if src is None:
            src = load_parts(spark, sf_dir, self.source)
        out = self.path(sf_dir)
        fresh = not os.path.isdir(out)
        before = self.materialized_keys(sf_dir)
        keep = sorted(before - set(force))
        col = F.col(self.partition_col)
        todo = col.isNotNull()
        if keep:
            todo &= ~col.cast("string").isin(keep)
        df = self.build(src).filter(todo)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.partition_col)
            .parquet(out)
        )
        # partition columns read back as strings (their directory form),
        # after the data columns; a new directory covers no parts yet
        view = StructType(
            [StructField(f.name, f.dataType) for f in df.schema
             if f.name != self.partition_col]
            + [StructField(self.partition_col, StringType())]
        )
        self._record(sf_dir, fp, view_schema=view, **({"parts": {}} if fresh else {}))
        return sorted((self.materialized_keys(sf_dir) - before) | set(force))

    def stream_refresh(
        self,
        spark: SparkSession,
        sf_dir: str,
        stream_df: DataFrame,
        key_expr,
        checkpoint: str,
        rebuilt_log: list | None = None,
    ):
        """Streaming incremental maintenance: each micro-batch's distinct
        partition keys are the dirty set, and the sink runs
        ``refresh(force=dirty)`` — the one rebuild path, which rebuilds
        those days (and any key not materialized yet) from the whole
        source in one write and records the covered parts, so a later
        plain :meth:`refresh` stays incremental. foreachBatch +
        checkpoint make it exactly-once at partition granularity: a
        replayed batch re-marks the same keys dirty and the
        dynamic-partition overwrite is idempotent. This is the serving
        loop a 100 TB dashboard runs: append-only log → dirty-day
        detection from the stream → rebuild of the dirty days.

        Returns the started StreamingQuery (caller awaits termination);
        ``rebuilt_log`` (if given) collects the per-batch rebuilt keys.
        """

        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            dirty = sorted(
                str(r[0])
                for r in batch_df.select(key_expr.alias("k")).distinct().collect()
            )
            done = self.refresh(spark, sf_dir, force=dirty)
            if rebuilt_log is not None and done:
                rebuilt_log.append(done)

        return (
            stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def read(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """The materialized relation; the partition column comes back as
        string (its on-disk directory form) regardless of type inference.

        An EMPTY source has nothing to materialize, so a missing path
        over it reads as the empty relation in the view's own schema —
        build() over the empty source is that frame (round-10
        empty-input sweep).

        The empty-frame substitution applies ONLY to the genuinely-empty
        source: a missing directory when the source HAS rows means the
        caller skipped refresh() (or a refresh failed mid-flight), and
        silently serving zero rows there would be a correctness bug —
        raise instead (round-10 ADVICE).

        The view directory is recorded as a read, so a memoized plan over
        the returned frame goes stale once the directory is rewritten or
        deleted, instead of serving a scan of removed files."""
        note_read(*self._table(sf_dir))
        out = self.path(sf_dir)
        if not os.path.isdir(out):
            src = load_parts(spark, sf_dir, self.source)
            if src.limit(1).count() > 0:
                raise FileNotFoundError(
                    f"materialized view '{self.name}' has no materialization "
                    f"at {out} but its source has rows — call refresh() "
                    "before read()"
                )
            df = self.build(src)
        else:
            cov = self.covered(sf_dir)
            schema = cov.view_schema if cov is not None else None
            reader = spark.read if schema is None else spark.read.schema(schema)
            df = reader.parquet(out)
        return df.withColumn(
            self.partition_col, F.col(self.partition_col).cast("string")
        )
