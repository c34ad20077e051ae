"""Focused tests for the round-13 optimization internals.

Each optimization that changed HOW an operator computes (never WHAT)
gets a pin here proving the new path is value-identical to the old
formulation it replaced:

- ``fan_out_scan`` (sources/loader.py): conditional round-robin
  repartition — no-op when the scan already splits, multiset-identical
  when it fans out.
- ``dedup_exact``: the struct-min aggregate must reproduce the old
  two-window survivor plan row for row (including the NULL-text group).
- ``conftest.round6``: the tests' replica of Spark's
  ``round(double, 6)`` must match the engine on ties, negatives and
  binary-noise reprs (the property tests replay 6-dp rounds with it).

The vector unroll ≡ fold pins live in tests/test_vector.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_server_spark.operators.dedup import dedup_exact
from mapreduce_server_spark.sources.loader import Tables, fan_out_scan

from .conftest import SF001, round6


def test_fan_out_scan_fans_single_partition_scan(spark):
    one = spark.range(1000).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    fanned = fan_out_scan(one, spark)
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # multiset-identical: same ids, same count, nothing duplicated
    assert fanned.count() == 1000
    assert fanned.exceptAll(one).count() == 0
    assert one.exceptAll(fanned).count() == 0


def test_fan_out_scan_noop_when_already_split(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target)
    assert fan_out_scan(wide, spark) is wide  # untouched, zero plan nodes
    wider = spark.range(1000).repartition(target + 3)
    assert fan_out_scan(wider, spark) is wider


def test_dedup_exact_matches_old_window_formulation(spark):
    new = dedup_exact(spark, SF001)
    d = Tables(spark, SF001).documents
    w = Window.partitionBy("text").orderBy("doc_id")
    old = (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("text")))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars", "n_copies")
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    # the NULL-text rows still collapse to exactly ONE survivor group
    n_null_docs = d.where(F.col("text").isNull()).count()
    if n_null_docs:
        nulls = (
            new.join(
                d.select("doc_id", F.col("text").alias("t")), "doc_id"
            )
            .where(F.col("t").isNull())
            .collect()
        )
        assert len(nulls) == 1
        assert nulls[0].n_copies == n_null_docs


def test_round6_matches_spark_round(spark):
    vals = [
        0.1234565,  # 6-dp tie (half-up, toward +inf for positives)
        -0.1234565,  # negative tie (HALF_UP = away from zero)
        1.0000005,
        0.30000000000000004,  # binary-noise repr (0.1 + 0.2)
        0.1 + 0.2 - 0.3,  # 5.551115123125783e-17
        123456.789012345,
        -9.9999995e-1,
        0.0,
        -0.0,
        2.5e-7,
        1e-30,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x: double")
    got = df.select(F.round(F.col("x"), 6).alias("r")).collect()
    for v, row in zip(vals, got):
        assert round6(v) == row.r, (v, round6(v), row.r)
