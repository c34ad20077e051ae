"""The registry's plan cache serves a memoized plan only while every
table its build read still has the fingerprint it had then: an appended
part file or a rewritten table makes the key rebuild, a hit costs
file-system stats only, and the recorded reads are complete and kept
apart per thread."""

from __future__ import annotations

import dataclasses
import os
import shutil
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import bench
from mapreduce_server_spark import registry
from mapreduce_server_spark.operators import _memo
from mapreduce_server_spark.operators import similarity as sim
from mapreduce_server_spark.registry import REGISTRY
from mapreduce_server_spark.serving import scheduler
from mapreduce_server_spark.sources import loader

from .conftest import SF0001, SF001, make_duck
from .parity import assert_parity
from .test_concurrent import KEYS as CONCURRENT_KEYS

#: the recurring dashboard batch (stream + cohort over the event log,
#: two TPC-H summaries over tables that never change)
DASHBOARD_KEYS = [
    "stream_tumbling",
    "cohort_retention",
    "q1_pricing_summary",
    "q12_priority_class",
]


def _table(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


@pytest.fixture
def log_copy(tmp_path):
    """sf0.001 copied to ``tmp_path``, with ``events.parquet`` a directory
    of part files (the shape of an append-only log)."""
    d = str(tmp_path / "sf")
    shutil.copytree(SF0001, d)
    ev = _table(d, "events")
    os.remove(ev)
    os.mkdir(ev)
    shutil.copy(_table(SF0001, "events"), os.path.join(ev, "part-00000.parquet"))
    return d


def test_appended_part_file_and_rewritten_table_rebuild(spark, log_copy):
    key = "stream_tumbling"
    first = REGISTRY[key].fn(spark, log_copy)
    first.collect()
    assert REGISTRY[key].fn(spark, log_copy) is first  # unchanged → hit

    # append a day's worth of new events as a second part file
    events = pq.read_table(_table(SF0001, "events"))
    grown = events.set_column(
        0, "event_id", pc.add(events.column("event_id"), 1_000_000)
    )
    pq.write_table(grown, os.path.join(_table(log_copy, "events"), "part-00001.parquet"))
    second = REGISTRY[key].fn(spark, log_copy)
    con = make_duck(log_copy)
    assert_parity(second, con, REGISTRY[key].oracle, key)
    assert second is not first

    # rewrite lineitem in place: q1's memoized plan must not be served
    q1 = "q1_pricing_summary"
    before = REGISTRY[q1].fn(spark, log_copy)
    before.collect()
    stats = registry.plan_cache_stats()
    li = pq.read_table(_table(log_copy, "lineitem"))
    pq.write_table(li.slice(0, li.num_rows // 2), _table(log_copy, "lineitem"))
    after = REGISTRY[q1].fn(spark, log_copy)
    assert_parity(after, con, REGISTRY[q1].oracle, q1)
    assert after is not before
    assert registry.plan_cache_stats()["stale"] == stats["stale"] + 1


def test_stale_keys_rebuild_against_the_pin(spark, log_copy, monkeypatch):
    """After an append, the batch's stale keys are rebuilt after the
    shared scan is pinned, so they read it even when their builder fixes
    its plan eagerly, as a tracer's plan capture does."""
    keys = ["stream_tumbling", "cohort_retention"]
    scheduler.run_shared(spark, log_copy, keys)

    events = pq.read_table(_table(SF0001, "events"))
    grown = events.set_column(
        0, "event_id", pc.add(events.column("event_id"), 1_000_000)
    )
    pq.write_table(grown, os.path.join(_table(log_copy, "events"), "part-00001.parquet"))

    def planned_eagerly(raw):
        def build(s, sf_dir):
            df = raw(s, sf_dir)
            df._jdf.queryExecution().executedPlan()
            return df

        return build

    for k in keys:
        monkeypatch.setitem(
            REGISTRY, k, dataclasses.replace(REGISTRY[k], raw_fn=planned_eagerly(REGISTRY[k].raw_fn))
        )
    results, report = scheduler.run_shared(spark, log_copy, keys)
    assert report.reused == []
    assert report.shared_tables == ["events"]
    assert report.used_cache == {k: True for k in keys}
    con = make_duck(log_copy)
    for k in keys:
        expected = con.execute(REGISTRY[k].oracle).fetchall()
        assert sorted(map(tuple, results[k])) == sorted(expected), k


#: keys served through the embeddings value memos: the query vector
#: (knn_bruteforce), the IVF centroids, assignment and on-disk index
#: (knn_ivf, knn_cell_stats, knn_ivf_pruned) and the k-center coreset
EMBEDDING_MEMO_KEYS = [
    "knn_bruteforce",
    "knn_ivf",
    "knn_cell_stats",
    "knn_ivf_pruned",
    "sample_kcenter",
]


def test_rewritten_embeddings_rebuild_the_value_memos(spark, log_copy):
    """A rebuild after ``embeddings`` changes must not combine the new
    scan with a query vector, centroids or index memoized from the old
    data."""
    for key in EMBEDDING_MEMO_KEYS:
        REGISTRY[key].fn(spark, log_copy).collect()
    # every vec_id takes the next row's vector: the query vector, the
    # IVF seeds and the k-center seed all change
    path = _table(log_copy, "embeddings")
    emb = pq.read_table(path)
    vecs = emb.column("embedding").to_pylist()
    i = emb.schema.get_field_index("embedding")
    rotated = emb.set_column(
        i, emb.schema.field(i), pa.array(vecs[1:] + vecs[:1], emb.schema.field(i).type)
    )
    pq.write_table(rotated, path)
    con = make_duck(log_copy)
    for key in EMBEDDING_MEMO_KEYS:
        assert_parity(REGISTRY[key].fn(spark, log_copy), con, REGISTRY[key].oracle, key)


def test_counters_split_hits_misses_and_stale(spark, log_copy):
    key = "agg_group"
    s0 = registry.plan_cache_stats()
    REGISTRY[key].fn(spark, log_copy)
    REGISTRY[key].fn(spark, log_copy)
    orders = _table(log_copy, "orders")
    pq.write_table(pq.read_table(orders).slice(0, 10), orders)
    REGISTRY[key].fn(spark, log_copy)
    s1 = registry.plan_cache_stats()
    assert {k: s1[k] - s0[k] for k in s1} == {"hits": 1, "misses": 1, "stale": 1}


def test_hit_makes_no_py4j_call(spark, monkeypatch):
    key = "q1_pricing_summary"
    df = REGISTRY[key].fn(spark, SF0001)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counted(*a, **kw):
        calls.append(a)
        return send(*a, **kw)

    monkeypatch.setattr(client, "send_command", counted)
    assert REGISTRY[key].fn(spark, SF0001) is df
    monkeypatch.undo()
    assert calls == []


def test_memo_hits_still_record_their_table(spark):
    tag = "test_plan_cache_probe"
    _memo.session_cache(
        spark, SF0001, tag, lambda: loader.load_table(spark, SF0001, "documents").limit(1)
    )
    sim._query_vector(spark, SF0001)
    try:
        with loader.recording() as reads:
            _memo.session_cache(spark, SF0001, tag, lambda: pytest.fail("rebuilt"))
            sim._query_vector(spark, SF0001)
        assert set(reads) == {(SF0001, "documents"), (SF0001, "embeddings")}
    finally:
        app = spark.sparkContext.applicationId
        for k in [k for k in _memo._FRAME_CACHE if k[:3] == (app, SF0001, tag)]:
            _memo._FRAME_CACHE.pop(k).unpersist()


def test_concurrent_builds_record_apart(spark, monkeypatch):
    """Two builds overlap on two threads; each entry records only the
    tables its own build read."""
    keys = {"agg_group": {"orders"}, "text_wordcount": {"documents"}}
    gate = threading.Barrier(len(keys))

    def overlapped(raw):
        def build(s, sf_dir):
            gate.wait(timeout=120)  # both recordings open …
            df = raw(s, sf_dir)
            gate.wait(timeout=120)  # … until both builds have loaded
            return df

        return build

    for k in keys:
        monkeypatch.setitem(
            REGISTRY, k, dataclasses.replace(REGISTRY[k], raw_fn=overlapped(REGISTRY[k].raw_fn))
        )
    threads = [
        threading.Thread(target=registry.build_plan, args=(spark, SF0001, k)) for k in keys
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    for k, tables in keys.items():
        assert registry.plan_entry(spark, SF0001, k).tables(SF0001) == tables, k


def _assert_reads_complete(spark, sf_dir: str, key: str) -> None:
    df = registry.build_plan(spark, sf_dir, key)
    recorded = registry.plan_entry(spark, sf_dir, key).tables(sf_dir)
    missing = scheduler.tables_referenced(df, sf_dir) - recorded
    assert not missing, f"{key}: reads of {sorted(missing)} were not recorded"


@pytest.mark.parametrize(
    "key", sorted(set(bench.HEADLINE) | set(DASHBOARD_KEYS) | set(CONCURRENT_KEYS))
)
def test_recorded_reads_cover_the_plan(spark, key):
    _assert_reads_complete(spark, SF001, key)


@pytest.mark.sweep
@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_recorded_reads_cover_the_plan_all_keys(spark, key):
    _assert_reads_complete(spark, SF0001, key)
