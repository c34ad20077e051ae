"""The registry's plan cache serves a memoized plan only while every
table its build read still has the fingerprint it had then: an appended
part file or a rewritten table makes the key rebuild, a hit costs
file-system stats only, and the recorded reads are complete and kept
apart per thread. The first hit keeps the plan's result, so later hits
run no Spark job, unless the result may differ over unchanged inputs or
is too large to keep."""

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
from mapreduce_server_spark import cache, registry
from mapreduce_server_spark.operators import _memo
from mapreduce_server_spark.operators import similarity as sim
from mapreduce_server_spark.operators import sources_ops
from mapreduce_server_spark.registry import REGISTRY
from mapreduce_server_spark.serving import scheduler
from mapreduce_server_spark.sources import loader

from .conftest import SF0001, SF001, make_duck
from .parity import assert_parity, run_keys
from .test_concurrent import KEYS as CONCURRENT_KEYS
from .test_matview import _grouped

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


def _append_events(sf_dir: str, part: int) -> None:
    """Append a copy of sf0.001's events as part file ``part``, with
    event ids shifted past every earlier part's."""
    events = pq.read_table(_table(SF0001, "events"))
    grown = events.set_column(
        0, "event_id", pc.add(events.column("event_id"), part * 1_000_000)
    )
    pq.write_table(grown, os.path.join(_table(sf_dir, "events"), f"part-{part:05d}.parquet"))


def _rotate_embeddings(sf_dir: str) -> None:
    """Every vec_id takes the next row's vector: the query vector, the
    IVF seeds and the k-center seed all change."""
    path = _table(sf_dir, "embeddings")
    emb = pq.read_table(path)
    vecs = emb.column("embedding").to_pylist()
    i = emb.schema.get_field_index("embedding")
    rotated = emb.set_column(
        i, emb.schema.field(i), pa.array(vecs[1:] + vecs[:1], emb.schema.field(i).type)
    )
    pq.write_table(rotated, path)


def test_appended_part_file_and_rewritten_table_rebuild(spark, log_copy):
    key = "stream_tumbling"
    first = REGISTRY[key].fn(spark, log_copy)
    first.collect()
    served = REGISTRY[key].fn(spark, log_copy)  # unchanged → hit, result kept
    assert REGISTRY[key].fn(spark, log_copy) is served  # from the second hit on

    # append a day's worth of new events as a second part file
    _append_events(log_copy, 1)
    second = REGISTRY[key].fn(spark, log_copy)
    con = make_duck(log_copy)
    assert_parity(second, con, REGISTRY[key].oracle, key)
    assert second is not first and second is not served

    # rewrite lineitem in place: q1's memoized plan must not be served
    q1 = "q1_pricing_summary"
    before = REGISTRY[q1].fn(spark, log_copy)
    before.collect()
    stats = cache.stats()["plan"]
    li = pq.read_table(_table(log_copy, "lineitem"))
    pq.write_table(li.slice(0, li.num_rows // 2), _table(log_copy, "lineitem"))
    after = REGISTRY[q1].fn(spark, log_copy)
    assert_parity(after, con, REGISTRY[q1].oracle, q1)
    assert after is not before
    assert cache.stats()["plan"]["stale"] == stats["stale"] + 1


def test_stale_keys_rebuild_against_the_pin(spark, log_copy, monkeypatch):
    """After an append, the batch's stale keys are rebuilt after the
    shared scan is pinned, so they read it even when their builder fixes
    its plan eagerly, as a tracer's plan capture does."""
    keys = ["stream_tumbling", "cohort_retention"]
    scheduler.run_shared(spark, log_copy, keys)
    _append_events(log_copy, 1)

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
    _rotate_embeddings(log_copy)
    con = make_duck(log_copy)
    for key in EMBEDDING_MEMO_KEYS:
        assert_parity(REGISTRY[key].fn(spark, log_copy), con, REGISTRY[key].oracle, key)


def test_appends_replace_the_log_scan(spark, log_copy):
    """Each append to the log replaces the table's scan memo entry
    instead of adding one, and the new scan reads every part."""
    loader.load_table(spark, log_copy, "events")
    entries = len(loader._SCAN_CACHE)
    for part in range(1, 6):
        _append_events(log_copy, part)
        df = loader.load_table(spark, log_copy, "events")
        assert len(loader._SCAN_CACHE) == entries, part
    assert df.count() == 6 * pq.read_metadata(_table(SF0001, "events")).num_rows


def test_an_append_reuses_the_scan_schema_and_a_rewrite_infers_it(spark, log_copy):
    """After an append every part the scan was built over is still there
    unchanged, so the new scan reads with the recorded schema: loading
    starts no Spark job and serves the new rows. A part rewritten in
    place or removed may change the schema: the next load infers it
    again (one job)."""
    n = pq.read_metadata(_table(SF0001, "events")).num_rows
    loader.load_table(spark, log_copy, "events")

    def load(group: str):
        return _grouped(spark, group, lambda: loader.load_table(spark, log_copy, "events"))

    _append_events(log_copy, 1)
    df, tot = load("load_appended")
    assert tot["jobs"] == 0, tot
    assert df.count() == 2 * n

    part0 = os.path.join(_table(log_copy, "events"), "part-00000.parquet")
    pq.write_table(pq.read_table(part0).slice(0, n // 2), part0)
    df, tot = load("load_rewritten")
    assert tot["jobs"] == 1, tot
    assert df.count() == n // 2 + n

    os.remove(os.path.join(_table(log_copy, "events"), "part-00001.parquet"))
    df, tot = load("load_removed")
    assert tot["jobs"] == 1, tot
    assert df.count() == n // 2


def test_fan_out_probe_is_memoized(spark, monkeypatch):
    """A second fan-out over the same files reuses the partition count
    without translating a plan to an RDD again."""
    df = loader.load_table(spark, SF0001, "orders")
    loader.fan_out_scan(df, spark)
    monkeypatch.setattr(type(df), "rdd", property(lambda _: pytest.fail("translated")))
    loader.fan_out_scan(df.select("o_orderkey"), spark)


#: one key through every fingerprinted memo: the event log's scan, its
#: measure-contract check and plan (stream_tumbling), the query vector
#: (knn_bruteforce), the IVF centroids, assignment and index
#: (knn_ivf_pruned), the k-center coreset (sample_kcenter) and a
#: session frame over documents (quality_drift_psi)
EVERY_MEMO_KEYS = [
    "stream_tumbling",
    "knn_bruteforce",
    "knn_ivf_pruned",
    "sample_kcenter",
    "quality_drift_psi",
]


def test_every_memo_rebuilds_after_its_inputs_change(spark, log_copy, monkeypatch):
    """Rewriting embeddings and documents and appending to the log makes
    every memo that records reads rebuild; every key still matches its
    oracle."""
    monkeypatch.setenv("SPARK_GRAFT_VALIDATE_MEASURES", "1")
    for key in EVERY_MEMO_KEYS:
        REGISTRY[key].fn(spark, log_copy).collect()
    before = cache.stats()

    _rotate_embeddings(log_copy)
    docs = pq.read_table(_table(log_copy, "documents"))
    pq.write_table(docs.slice(0, docs.num_rows - 10), _table(log_copy, "documents"))
    _append_events(log_copy, 1)

    con = make_duck(log_copy)
    for key in EVERY_MEMO_KEYS:
        assert_parity(REGISTRY[key].fn(spark, log_copy), con, REGISTRY[key].oracle, key)
    after = cache.stats()
    not_rebuilt = [
        name
        for name in after
        # the view's covered parts are refresh state, not a value of its
        # inputs (tests/test_matview.py); this test's append back-fills
        # closed days, which the view's contract leaves to force=
        if name not in ("fanout", "matview")
        and after[name]["stale"] <= before[name]["stale"]
    ]
    assert not_rebuilt == []


def test_deleted_view_directory_rebuilds_the_view_plan(spark, log_copy):
    """The view's read plan records the view directory: deleting it makes
    the memoized plan stale, and the rebuild refreshes the view."""
    key = "matview_daily_rollup"
    REGISTRY[key].fn(spark, log_copy).collect()
    shutil.rmtree(sources_ops._daily_rollup_view().path(log_copy))
    after = REGISTRY[key].fn(spark, log_copy)
    assert_parity(after, make_duck(log_copy), REGISTRY[key].oracle, key)


def test_deleted_data_directories_leave_no_memo_entries(spark, tmp_path):
    """Entries built over a data directory, the view's covered parts
    among them, are dropped and released once the directory is deleted:
    nothing would look them up again. The fan-out probe (ml_ridge_normal)
    is keyed by the files themselves."""
    copies = []
    for i in range(2):
        d = str(tmp_path / f"copy{i}")
        shutil.copytree(SF0001, d)
        copies.append(d)
        for key in [*EVERY_MEMO_KEYS, "matview_daily_rollup", "ml_ridge_normal"]:
            REGISTRY[key].fn(spark, d)

    def naming() -> dict[str, int]:
        """memo name → its entries (and build locks) that name a copy"""
        out = {}
        for name, m in cache._MEMOS.items():
            held = [repr((k, e.reads)) for k, e in m.items()]
            held += [repr(k) for k in m._key_locks]
            n = sum(any(d in h for d in copies) for h in held)
            if n:
                out[name] = n
        return out

    assert set(naming()) >= {
        "plan", "scan", "fanout", "frame", "query_vector", "ivf_centroids",
        "ivf_assign", "ivf_index", "kcenter", "matview",
    }
    for d in copies:
        shutil.rmtree(d)
    registry.build_plan(spark, SF0001, "agg_group")  # any store sweeps
    assert naming() == {}


def test_counters_split_hits_misses_and_stale(spark, log_copy):
    key = "agg_group"
    s0 = cache.stats()["plan"]
    REGISTRY[key].fn(spark, log_copy)
    REGISTRY[key].fn(spark, log_copy)
    orders = _table(log_copy, "orders")
    pq.write_table(pq.read_table(orders).slice(0, 10), orders)
    REGISTRY[key].fn(spark, log_copy)
    s1 = cache.stats()["plan"]
    # the hit kept the result; the rebuild replaced it, so no bytes stay
    assert {k: s1[k] - s0[k] for k in s1} == {
        "hits": 1, "misses": 1, "stale": 1, "fills": 1, "retained_bytes": 0,
    }


def test_hit_makes_no_py4j_call(spark, monkeypatch):
    key = "q1_pricing_summary"
    REGISTRY[key].fn(spark, SF0001)
    df = REGISTRY[key].fn(spark, SF0001)  # a hit that keeps the result
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
        with cache.recording() as reads:
            _memo.session_cache(spark, SF0001, tag, lambda: pytest.fail("rebuilt"))
            sim._query_vector(spark, SF0001)
        assert set(reads) == {(SF0001, "documents"), (SF0001, "embeddings")}
    finally:
        app = spark.sparkContext.applicationId
        _memo._FRAME_CACHE.pop((app, SF0001, tag)).value.unpersist()


def test_clear_frames_releases_every_cached_frame(spark):
    frame = _memo.session_cache(
        spark, SF0001, "test_clear_frames",
        lambda: loader.load_table(spark, SF0001, "documents").limit(1),
    )
    assert frame.storageLevel.useMemory
    cache.clear_frames()
    assert len(_memo._FRAME_CACHE) == len(sim._IVF_ASSIGN_CACHE) == 0
    assert not frame.storageLevel.useMemory


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


def _requests(spark, sf_dir: str, key: str, n: int, tag: str) -> list[tuple[object, int]]:
    """``n`` requests of ``key`` (``fn(...).collect()``), each under a job
    group of its own: the served frame and the Spark jobs it ran."""
    out = []
    for i in range(n):
        def request():
            df = REGISTRY[key].fn(spark, sf_dir)
            df.collect()
            return df

        df, tot = _grouped(spark, f"{tag}_{key}_{i}", request)
        out.append((df, tot["jobs"]))
    return out


def _assert_served_result(spark, sf_dir: str, key: str, tag: str) -> None:
    """The current entry of ``key`` keeps its result: a request runs no
    Spark job and its rows equal the oracle."""
    con = make_duck(sf_dir)
    _, tot = _grouped(
        spark, f"{tag}_{key}_served",
        lambda: assert_parity(REGISTRY[key].fn(spark, sf_dir), con, REGISTRY[key].oracle, key),
    )
    assert tot["jobs"] == 0, tot
    assert registry.plan_entry(spark, sf_dir, key).nbytes > 0


def test_a_repeated_request_is_served_its_result(spark, log_copy):
    """The first request builds and executes the plan; the second runs
    one job, the plan's result stage, and keeps the rows; the third runs
    none and returns the oracle's rows."""
    key = "q1_pricing_summary"
    (plan, n1), (served, n2), (again, n3) = _requests(spark, log_copy, key, 3, "repeat")
    assert n1 >= 1 and n2 == 1 and n3 == 0, (n1, n2, n3)
    assert served is again is not plan
    _assert_served_result(spark, log_copy, key, "repeat")


def test_a_kept_result_goes_stale_with_its_inputs(spark, log_copy):
    """After an append, a part rewritten in place, or the table's
    directory deleted and written again, the next request is a fresh
    build, and the one after keeps the new result."""
    key = "stream_tumbling"
    events = _table(log_copy, "events")
    part0 = os.path.join(events, "part-00000.parquet")

    def rewrite_part():
        t = pq.read_table(part0)
        pq.write_table(t.slice(0, t.num_rows // 2), part0)

    def recreate_dir():
        shutil.rmtree(events)
        os.mkdir(events)
        _append_events(log_copy, 7)

    changes = {"appended": lambda: _append_events(log_copy, 1),
               "rewritten": rewrite_part, "recreated": recreate_dir}
    _requests(spark, log_copy, key, 2, "stale_fill")
    _assert_served_result(spark, log_copy, key, "stale_fill")
    for what, change in changes.items():
        change()
        stale = cache.stats()["plan"]["stale"]
        (fresh, n), = _requests(spark, log_copy, key, 1, f"stale_{what}")
        assert cache.stats()["plan"]["stale"] == stale + 1, what
        assert not registry.plan_entry(spark, log_copy, key).settled, what
        assert n >= 1, what
        assert_parity(fresh, make_duck(log_copy), REGISTRY[key].oracle, key)
        _requests(spark, log_copy, key, 1, f"refill_{what}")
        _assert_served_result(spark, log_copy, key, f"refill_{what}")


def _assert_serves_its_plan(spark, sf_dir: str, key: str) -> None:
    """Every hit of ``key`` serves the memoized plan and runs the jobs of
    re-collecting it, never more: the entry keeps no result."""
    (plan, _), = _requests(spark, sf_dir, key, 1, "plan_build")
    _, recollect = _grouped(spark, f"plan_recollect_{key}", plan.collect)
    fills = cache.stats()["plan"]["fills"]
    for df, jobs in _requests(spark, sf_dir, key, 2, "plan_hit"):
        assert df is plan, key
        assert jobs == recollect["jobs"] >= 1, (key, jobs, recollect["jobs"])
    assert cache.stats()["plan"]["fills"] == fills, key
    entry = registry.plan_entry(spark, sf_dir, key)
    assert entry.settled and entry.value is plan and entry.nbytes == 0, key


@pytest.mark.parametrize(
    "key",
    [
        "heavy_hitters",  # nondeterministic
        "join_bloom_runtime",  # tagged side_effects
        "join_bucketed",  # scans scratch tables no build recorded
    ],
)
def test_keys_whose_result_may_change_serve_their_plan(spark, log_copy, key):
    _assert_serves_its_plan(spark, log_copy, key)


def test_a_result_over_the_broadcast_threshold_is_not_kept(spark, log_copy):
    """A result larger than spark.sql.autoBroadcastJoinThreshold is
    fetched once, served to the request that fetched it, and not kept:
    that request runs the jobs of a re-collect, and so does every later
    one."""
    key = "q1_pricing_summary"
    (plan, _), = _requests(spark, log_copy, key, 1, "large_build")
    _, recollect = _grouped(spark, "large_recollect", plan.collect)
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "100b")  # q1's 4 result rows take 672 bytes
    try:
        (fetched, n2), (df3, n3) = _requests(spark, log_copy, key, 2, "large")
    finally:
        spark.conf.set(conf, old)
    assert fetched is not plan and df3 is plan
    assert n2 == n3 == recollect["jobs"] >= 1, (n2, n3, recollect["jobs"])
    entry = registry.plan_entry(spark, log_copy, key)
    assert entry.settled and entry.value is plan and entry.nbytes == 0


def test_concurrent_first_hits_fill_once(spark, log_copy, monkeypatch):
    """Two threads make the first hit together: one executes the plan and
    keeps its rows, the other waits for them."""
    key = "agg_group"
    REGISTRY[key].fn(spark, log_copy).collect()
    checked = []
    check = registry._result_is_a_function_of_reads

    def slow_check(*a):
        checked.append(a)
        gate.wait(timeout=120)  # the other thread hits while this one fills
        return check(*a)

    monkeypatch.setattr(registry, "_result_is_a_function_of_reads", slow_check)
    gate = threading.Barrier(2)
    fills = cache.stats()["plan"]["fills"]
    served = [None, None]

    def hit(i):
        if i:
            gate.wait(timeout=120)
        served[i] = REGISTRY[key].fn(spark, log_copy)

    threads = [threading.Thread(target=hit, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert len(checked) == 1
    assert cache.stats()["plan"]["fills"] == fills + 1
    assert served[0] is served[1] is registry.plan_entry(spark, log_copy, key).value
    _assert_served_result(spark, log_copy, key, "concurrent")


@pytest.mark.sweep
@pytest.mark.parametrize("sf_dir", [SF0001, SF001])
def test_served_results_match_the_oracle_all_keys(spark, sf_dir):
    """Every key requested twice: the second request's frame (its kept
    result, where the key keeps one) matches the oracle."""

    def twice(key):
        return lambda s, d: [REGISTRY[key].fn(s, d) for _ in range(2)][-1]

    assert run_keys(spark, sf_dir, {k: twice(k) for k in sorted(REGISTRY)}) == {}
