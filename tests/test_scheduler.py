"""Shared-scan multi-query scheduling: sharing is detected, observable in
the executed plans, semantically transparent, and cleaned up."""

from __future__ import annotations

from mapreduce_server_spark import REGISTRY, cache, registry
from mapreduce_server_spark.serving import scheduler

from .conftest import SF001

BATCH = ["text_wordcount", "text_token_count", "sample_hash", "agg_group"]


def _rows_alone(spark, key):
    """Rows of a fresh plan, leaving the plan cache untouched."""
    return sorted(map(tuple, REGISTRY[key].raw_fn(spark, SF001).collect()))


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_table_usage_counts_plans(spark):
    tables = {}
    for k in BATCH:
        REGISTRY[k].fn(spark, SF001)
        tables[k] = registry.plan_entry(spark, SF001, k).tables(SF001)
    usage = scheduler.table_usage(tables)
    assert usage["documents"] == 3  # wordcount, token_count, sample_hash
    assert usage["orders"] == 1  # agg_group


def test_run_shared_matches_solo_and_uses_cache(spark):
    solo = {k: _rows_alone(spark, k) for k in BATCH}
    # the batch starts cold: no memoized plan for any of its keys
    app = spark.sparkContext.applicationId
    for k in BATCH:
        registry._PLAN_CACHE.pop((app, SF001, k), None)
    persisted = _persisted(spark)
    results, report = scheduler.run_shared(spark, SF001, BATCH, min_share=2)

    assert report.shared_tables == ["documents"]
    assert report.reused == []
    for k in BATCH:
        assert sorted(map(tuple, results[k])) == solo[k], k
    # the three documents queries read the pinned in-memory relation …
    assert report.used_cache["text_wordcount"]
    assert report.used_cache["text_token_count"]
    assert report.used_cache["sample_hash"]
    # … the unshared orders query does not
    assert not report.used_cache["agg_group"]

    # pin released: nothing the batch persisted stays persisted, and a
    # fresh plan of a documents query scans parquet again
    assert _persisted(spark) == persisted
    df = REGISTRY["text_wordcount"].raw_fn(spark, SF001)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in executed

    # inputs unchanged: the next batch re-collects every memoized plan
    # as it is (each counted as a plan-cache hit), pins nothing, and
    # returns the same rows
    hits = cache.stats()["plan"]["hits"]
    results, report = scheduler.run_shared(spark, SF001, BATCH, min_share=2)
    assert report.reused == BATCH
    assert cache.stats()["plan"]["hits"] == hits + len(BATCH)
    assert report.shared_tables == []
    assert report.used_cache == {}
    for k in BATCH:
        assert sorted(map(tuple, results[k])) == solo[k], k
    assert _persisted(spark) == persisted
