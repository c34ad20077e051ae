"""Scan/source/sink operators (SURVEY.md §2 cat. A).

The MR input layer (InputFormat/RecordReader over 16-64 MB splits
[MR04 §3.1]) is Spark's file source: splits ≙ partitions, vectorized
parquet reader, pushdown. These queries make the scan-layer behavior
itself observable; `tests/test_plans.py` asserts PushedFilters/ReadSchema
show pruning actually reached the scan.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum
from ..registry import query
from ..scratch import SCRATCH, owned
from ..sources.loader import Tables


def sink_dir(kind: str, sf_dir: str) -> str:
    """Scratch directory for a sink demo over ``sf_dir``: sf-tagged (the
    registry plan cache is keyed by (app, sf_dir), so two scale factors
    in one session must not share one sink directory) AND pid-tagged
    (two concurrent applications must not share one either — the same
    isolation rule the IVF index learned in round 11), registered for
    atexit reclamation (scratch.py)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    return owned(os.path.join(SCRATCH, f"{kind}_{tag}_p{os.getpid()}"))


@query(
    "scan_project",
    category="A.scan",
    oracle="""
SELECT l_orderkey, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-06-01'
""",
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned, predicate-pushed scan: reads 3 of 11 lineitem
    columns; the shipdate filter lands in the parquet row-group stats
    (PushedFilters) so non-qualifying row groups are skipped entirely."""
    li = Tables(spark, sf_dir).lineitem
    return li.filter(F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp")).select(
        "l_orderkey", "l_extendedprice"
    )


@query(
    "sink_partitioned",
    category="A.sink",
    tags=("side_effects",),
    oracle="""
SELECT l_returnflag, count(*) AS n,
       sum(l_quantity::DECIMAL(18,6))::DOUBLE AS sum_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-file sink round-trip (R reducers → R output dirs
    [MR04 §3.1]): write lineitem partitioned by l_returnflag, read it
    back, aggregate — the oracle aggregates the source directly, so the
    value match proves the sink lost nothing. partitionBy is also the
    100 TB layout primitive that makes future partition pruning free."""
    li = Tables(spark, sf_dir).lineitem
    out = sink_dir("sink_partitioned", sf_dir)
    (
        li.select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    # explicit schema: a 0-row partitionBy write leaves no data files to
    # infer from (round-10 sweep) — and at scale the reader should never
    # pay listing-driven inference for a layout it owns anyway
    back = spark.read.schema(
        "l_orderkey bigint, l_quantity double, l_returnflag string"
    ).parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        # decimal-sum discipline (ARCHITECTURE §4): a raw double sum is
        # fold-order-dependent once quantities are non-integral
        # (round-12 ×1e-5 axis caught sink_zorder)
        dsum("l_quantity", scale=6)
        .alias("sum_qty"),
    )


@functools.cache
def _daily_rollup_view() -> "MaterializedView":
    from ..serving.matview import MaterializedView

    def build(ev: DataFrame) -> DataFrame:
        return ev.groupBy(F.to_date("ts").cast("string").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value")
        )

    return MaterializedView("daily_rollup", "day", "events", build)


@query(
    "matview_daily_rollup",
    category="A.sink",
    tags=("side_effects",),
    oracle="""
SELECT ts::TIMESTAMP::DATE::VARCHAR AS day, event_type,
       count(*) AS n,
       sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def matview_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized daily event rollup, refreshed incrementally and read
    back (serving/matview.py — the recurring-workload pattern: an hourly
    dashboard refresh over an append-only log scans only the parts
    appended since the last refresh, and rebuilds only the days they
    bring). The oracle aggregates the source directly, so the value
    match proves refresh + storage round-trip lost nothing; the
    incremental path itself is pytest-verified (tests/test_matview.py)."""
    mv = _daily_rollup_view()
    mv.refresh(spark, sf_dir)
    return mv.read(spark, sf_dir)


#: compaction target size; tiny so fixture-scale data still yields >1 file
COMPACT_TARGET_BYTES = 256 * 1024


@query(
    "sink_compacted",
    category="A.sink",
    tags=("side_effects",),
    oracle="""
SELECT lang, count(*) AS n, sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY lang
""",
)
def sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the 100 TB housekeeping op: a fragmented
    write (64 files here; in production, streaming micro-batch or
    per-task outputs) is rewritten to ⌈bytes / target⌉ right-sized files
    via repartition. Small files are a real scale tax: each costs a
    footer read + task schedule + NameNode/listing entry, and a 100 TB
    table fragmented into MB-files makes scans metadata-bound. The
    oracle aggregates the source directly — the value match proves the
    two rewrites lost nothing; file-count mechanics are pinned in
    tests/test_ingest.py."""
    d = Tables(spark, sf_dir).documents
    frag = sink_dir("compact_frag", sf_dir)
    compact = sink_dir("compact_out", sf_dir)
    d.repartition(64).write.mode("overwrite").parquet(frag)

    back = spark.read.parquet(frag)
    frag_bytes = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-frag_bytes // COMPACT_TARGET_BYTES))
    back.repartition(n_files).write.mode("overwrite").parquet(compact)

    return (
        spark.read.parquet(compact)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
    )


def zorder_value(a, b, bits: int = 16):
    """Morton/Z-curve interleave of two integer columns' low `bits` bits —
    pure JVM bit expressions (shiftright/and/shiftleft sums), whole-stage
    codegen'd; no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a.cast("long"), i).bitwiseAND(1), 2 * i)
            + F.shiftleft(F.shiftright(b.cast("long"), i).bitwiseAND(1), 2 * i + 1)
        )
    return z


@query(
    "sink_zorder",
    category="A.sink",
    tags=("side_effects",),
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(l_quantity::DECIMAL(18,6))::DOUBLE AS sum_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered sink: lineitem rewritten range-partitioned +
    sorted by the Morton interleave of (l_partkey, l_suppkey), then read
    back and aggregated (the oracle aggregates the source — value match
    proves the rewrite lost nothing). Why it matters at 100 TB: a linear
    sort clusters ONE key; the Z-curve keeps BOTH keys' locality, so
    parquet row-group min/max stats become tight boxes and a scan
    filtered on either (or both) keys skips most files — the same layout
    trick Delta OPTIMIZE ZORDER BY applies. tests/test_zorder.py MEASURES
    the skipping: file-level (partkey, suppkey) bounds overlap a box
    probe ~2-4× less often than the natural layout's."""
    li = Tables(spark, sf_dir).lineitem
    out = sink_dir("sink_zorder", sf_dir)
    z = zorder_value(F.col("l_partkey"), F.col("l_suppkey"))
    (
        li.withColumn("zval", z)
        .repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        # decimal-sum discipline (ARCHITECTURE §4): a raw double sum is
        # fold-order-dependent once quantities are non-integral
        # (round-12 ×1e-5 axis caught sink_zorder)
        dsum("l_quantity", scale=6)
        .alias("sum_qty"),
    )


# --- zone-map / file-skipping audit over simulated file layouts

ZM_ROWS_PER_FILE = 4096  # simulated file granule for the 'orderkey' layout
ZM_LO = "1997-01-01"  # audit predicate: lo <= l_shipdate < hi
ZM_HI = "1997-07-01"


@query(
    "scan_zonemap",
    category="A.scan",
    oracle=f"""
WITH base AS (
  SELECT layout,
         CASE layout
           WHEN 'orderkey' THEN l_orderkey // {ZM_ROWS_PER_FILE}
           ELSE (year(l_shipdate) - 1995) * 12 + (month(l_shipdate) - 1)
         END AS fid,
         l_shipdate,
         CASE WHEN l_shipdate >= TIMESTAMP '{ZM_LO}'
               AND l_shipdate <  TIMESTAMP '{ZM_HI}' THEN 1 ELSE 0 END AS m
  FROM lineitem
  CROSS JOIN (SELECT unnest(['orderkey', 'monthly']) AS layout)
),
zones AS (
  SELECT layout, fid,
         min(l_shipdate) AS zmin, max(l_shipdate) AS zmax,
         count(*)::BIGINT AS n_rows, sum(m)::BIGINT AS n_match
  FROM base GROUP BY layout, fid
),
classed AS (
  SELECT layout,
         CASE WHEN zmax < TIMESTAMP '{ZM_LO}'
               OR zmin >= TIMESTAMP '{ZM_HI}' THEN 'skipped'
              WHEN zmin >= TIMESTAMP '{ZM_LO}'
               AND zmax < TIMESTAMP '{ZM_HI}' THEN 'full'
              ELSE 'partial' END AS zone_class,
         n_rows, n_match
  FROM zones
)
SELECT layout, zone_class,
       count(*)::BIGINT AS n_files,
       sum(n_rows)::BIGINT AS n_rows,
       sum(n_match)::BIGINT AS n_rows_matching
FROM classed
GROUP BY layout, zone_class
ORDER BY layout, zone_class
""",
)
def scan_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max data-skipping) audit — the manifest-level
    pruning every lakehouse format (Delta/Iceberg/Hudi file stats,
    parquet row-group stats) applies before a scan: simulate two file
    layouts for lineitem, build per-file (min, max, rows) zone maps on
    l_shipdate, and classify each file against the predicate
    [{ZM_LO}, {ZM_HI}) as skipped / fully-matching / partial.

    The two layouts are the audit's point: 'orderkey' (files cut every
    4096 order keys ≈ ingest order; shipdate is uncorrelated with it in
    this fixture, so zones span the whole date range and NOTHING
    skips) vs 'monthly' (time-partitioned layout — the sink_zorder /
    sink_partitioned story — where zones are tight and the scan skips
    all but the predicate's months). The n_files/n_rows per class
    quantify exactly how much IO each layout saves; a 100 TB table
    lives or dies by this number, and the query shape — per-row file
    assignment, per-file agg, per-class agg — is precisely how engines
    compute skip stats from manifests (zone rows ≪ data rows; two
    cheap shuffles of file-granular keys only). Pure integer/timestamp
    math, so the oracle is exact."""
    li = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_shipdate")
    lo = F.lit(ZM_LO).cast("timestamp")
    hi = F.lit(ZM_HI).cast("timestamp")
    fid_order = F.expr(f"l_orderkey div {ZM_ROWS_PER_FILE}")
    fid_month = (
        (F.year("l_shipdate") - 1995) * 12 + (F.month("l_shipdate") - 1)
    ).cast("long")
    m = F.when(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi), 1
    ).otherwise(0)
    base = li.select(
        F.explode(
            F.array(
                F.struct(F.lit("orderkey").alias("layout"), fid_order.alias("fid")),
                F.struct(F.lit("monthly").alias("layout"), fid_month.alias("fid")),
            )
        ).alias("lf"),
        F.col("l_shipdate"),
        m.alias("m"),
    ).select("lf.layout", "lf.fid", "l_shipdate", "m")
    zones = base.groupBy("layout", "fid").agg(
        F.min("l_shipdate").alias("zmin"),
        F.max("l_shipdate").alias("zmax"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("m").alias("n_match"),
    )
    zone_class = (
        F.when((F.col("zmax") < lo) | (F.col("zmin") >= hi), "skipped")
        .when((F.col("zmin") >= lo) & (F.col("zmax") < hi), "full")
        .otherwise("partial")
    )
    return (
        zones.select("layout", zone_class.alias("zone_class"), "n_rows", "n_match")
        .groupBy("layout", "zone_class")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_match").alias("n_rows_matching"),
        )
        .orderBy("layout", "zone_class")
    )
