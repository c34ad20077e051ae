"""Materialized-view incremental refresh: only new partitions rebuild,
re-refresh is idempotent, a refresh scans only the appended parts, and
the view equals the direct aggregate."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mapreduce_server_spark.serving.matview import MaterializedView
from mapreduce_server_spark.sources.loader import load_table

from .conftest import SF001
from .test_streaming import SCRATCH


def _window(t, lo: str, hi: str):
    """The rows of events table ``t`` with lo <= ts < hi."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lo_ns = int(__import__("pandas").Timestamp(lo).value)
    hi_ns = int(__import__("pandas").Timestamp(hi).value)
    ts_type = t.schema.field("ts").type
    if pa.types.is_timestamp(ts_type):
        # casting timestamp→int64 yields values in the column's own
        # unit; scale the ns bounds to match (fixture drifted ns→µs)
        div = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[ts_type.unit]
    else:
        div = 1  # nanos-era fixture stored int64 ns directly
    ts = pc.cast(t["ts"], pa.int64())
    return t.filter(
        pc.and_(pc.greater_equal(ts, lo_ns // div), pc.less(ts, hi_ns // div))
    )


def _stage(name: str, frac_days: tuple[str, str] | None) -> str:
    """Copy the sf0.001 events into a private dir, optionally truncated to
    ts < cutoff (simulating an append-only log before later days arrive)."""
    src_dir = os.path.join(SCRATCH, f"mv_src_{name}")
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    t = pq.read_table(f"{SF001}/events.parquet")
    if frac_days is not None:
        t = _window(t, *frac_days)
    pq.write_table(t, os.path.join(src_dir, "events.parquet"))
    return src_dir


def _log(name: str) -> str:
    """An empty append-only events log: a directory of part files."""
    src = os.path.join(SCRATCH, f"mv_log_{name}")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(os.path.join(src, "events.parquet"))
    return src


def _put(src: str, part: str, t) -> None:
    pq.write_table(t, os.path.join(src, "events.parquet", part))


def _mv(name: str) -> MaterializedView:
    def build(ev):
        return ev.groupBy(F.to_date("ts").cast("string").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n")
        )

    return MaterializedView(name, "day", "events", build)


def _direct(spark, mv: MaterializedView, src: str) -> dict:
    """(day, event_type) → n of the view's aggregate over the whole source."""
    return {
        (r.day, r.event_type): r.n
        for r in mv.build(load_table(spark, src, "events")).collect()
    }


def _view(spark, mv: MaterializedView, src: str) -> dict:
    return {(r.day, r.event_type): r.n for r in mv.read(spark, src).collect()}


def test_incremental_refresh_rebuilds_only_new_days(spark):
    mv = _mv("mv_incr")
    shutil.rmtree(mv.path(os.path.join(SCRATCH, "mv_src_early")), ignore_errors=True)
    shutil.rmtree(mv.path(os.path.join(SCRATCH, "mv_src_full")), ignore_errors=True)

    early = _stage("early", ("2024-01-01", "2024-01-15"))
    built1 = mv.refresh(spark, early)
    assert built1 and all(d < "2024-01-15" for d in built1)

    # the full log arrives at the same logical location: stage it under the
    # early dir's path so the MV storage is continuous
    full = _stage("early", None)
    built2 = mv.refresh(spark, full)
    assert built2 and all(d >= "2024-01-15" for d in built2), built2
    assert not (set(built1) & set(built2))

    # idempotent: nothing new → no work
    assert mv.refresh(spark, full) == []

    assert _view(spark, mv, full) == _direct(spark, mv, full)


def test_force_rebuilds_dirty_partition(spark):
    mv = _mv("mv_force")
    src = _stage("force", None)
    shutil.rmtree(mv.path(src), ignore_errors=True)
    mv.refresh(spark, src)
    some_day = sorted(mv.materialized_keys(src))[0]
    assert mv.refresh(spark, src, force=[some_day]) == [some_day]


def test_escaped_partition_keys_stay_incremental(spark):
    """Partition values Spark must Hive-escape on disk (':' → '%3A') still
    round-trip through materialized_keys: a second refresh() is a no-op
    instead of rebuilding the escaped partitions forever."""

    import pyarrow as pa

    mv = MaterializedView("mv_escape", "hour", "hours", lambda src: src)
    src = os.path.join(SCRATCH, "mv_escape_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    pq.write_table(
        pa.table({"hour": ["2024-01-01T00:00", "2024-01-02T06:30"], "n": [1, 2]}),
        os.path.join(src, "hours.parquet"),
    )
    shutil.rmtree(mv.path(src), ignore_errors=True)

    assert sorted(mv.refresh(spark, src)) == ["2024-01-01T00:00", "2024-01-02T06:30"]
    # on-disk dirs are escaped; unescaped keys must still match the source
    raw_dirs = {d for d in os.listdir(mv.path(src)) if d.startswith("hour=")}
    assert any("%3A" in d for d in raw_dirs), raw_dirs
    assert mv.refresh(spark, src) == []  # incremental, not a perpetual rebuild


def test_stream_refresh_maintains_view_across_appends(spark):
    """foreachBatch incremental maintenance: the stream supplies the dirty
    days, which the sink passes to ``refresh(force=...)``; a second
    availableNow run over the same checkpoint processes ONLY the
    appended file and rebuilds only its days — including the day split
    across both files (rebuilt from the full source, so the split day's
    total is still exact)."""
    from mapreduce_server_spark.streaming.twins import events_stream

    import pyarrow as pa
    import pyarrow.compute as pc
    import pandas as pd

    src_dir = os.path.join(SCRATCH, "mv_stream_src")
    ev_dir = os.path.join(src_dir, "events.parquet")
    ckpt = os.path.join(SCRATCH, "mv_stream_ckpt")
    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(ev_dir)
    mv = _mv("mv_stream")
    shutil.rmtree(mv.path(src_dir), ignore_errors=True)

    t = pq.read_table(f"{SF001}/events.parquet")
    ts_type = t.schema.field("ts").type
    if pa.types.is_timestamp(ts_type):
        div = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[ts_type.unit]
    else:
        div = 1  # nanos-era fixture stored int64 ns directly
    ts = pc.cast(t["ts"], pa.int64())
    # mid-day split, in the fixture's own unit (encoding drifted ns→µs)
    cut_ns = int(pd.Timestamp("2024-01-15 12:00:00").value) // div
    pq.write_table(t.filter(pc.less(ts, cut_ns)), os.path.join(ev_dir, "a.parquet"))

    key = F.to_date("ts").cast("string")
    log1: list = []
    q = mv.stream_refresh(
        spark, src_dir, events_stream(spark, ev_dir), key, ckpt, rebuilt_log=log1
    )
    q.awaitTermination(120)
    assert "2024-01-15" in {d for batch in log1 for d in batch}

    # append the rest; same checkpoint → only the new file is processed
    pq.write_table(
        t.filter(pc.greater_equal(ts, cut_ns)), os.path.join(ev_dir, "b.parquet")
    )
    log2: list = []
    q = mv.stream_refresh(
        spark, src_dir, events_stream(spark, ev_dir), key, ckpt, rebuilt_log=log2
    )
    q.awaitTermination(120)
    rebuilt2 = {d for batch in log2 for d in batch}
    assert min(rebuilt2) == "2024-01-15", rebuilt2  # split day re-marked dirty
    assert len(rebuilt2) < len(mv.materialized_keys(src_dir))  # not a full rebuild

    assert _view(spark, mv, src_dir) == _direct(spark, mv, src_dir)


def _grouped(spark, group: str, fn):
    """fn() under Spark job group ``group``; its jobs' summed metrics."""
    from perfbench.trace import drain_listener, spark_totals

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    drain_listener(sc)
    return out, spark_totals(sc, group)


def _job_names(spark, group: str) -> list[str]:
    """The names (call sites, e.g. ``collect at matview.py:42``) of the
    jobs of Spark job group ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    return [store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)]


def _fresh_mv(name: str, src: str) -> MaterializedView:
    mv = _mv(name)
    shutil.rmtree(mv.path(src), ignore_errors=True)
    return mv


def test_refresh_after_append_reads_only_the_appended_part(spark):
    t = pq.read_table(f"{SF001}/events.parquet")
    src = _log("append")
    _put(src, "part-0.parquet", _window(t, "2024-01-01", "2024-01-20"))
    mv = _fresh_mv("mv_append", src)
    mv.refresh(spark, src)
    assert mv.last_refresh.mode == "full"

    new = _window(t, "2024-01-20", "2024-02-01")
    _put(src, "part-1.parquet", new)
    rebuilt, tot = _grouped(spark, "mv_append_refresh", lambda: mv.refresh(spark, src))
    run = mv.last_refresh
    assert (run.mode, run.parts_scanned, run.parts_total) == ("incremental", 1, 2)
    assert run.rebuilt == rebuilt and rebuilt and min(rebuilt) == "2024-01-20"
    # one write scans the appended part, nothing else; no key discovery
    assert tot["input_rows"] == new.num_rows, tot
    names = _job_names(spark, "mv_append_refresh")
    assert names and not [n for n in names if n.startswith("collect")], names
    assert _view(spark, mv, src) == _direct(spark, mv, src)

    assert mv.refresh(spark, src) == []
    assert (mv.last_refresh.mode, mv.last_refresh.parts_scanned) == ("incremental", 0)


def test_rewritten_part_forces_full_rediscovery(spark):
    """A covered part rewritten in place under its name may hold keys the
    view lacks: only a rescan of every part finds them."""
    import pyarrow as pa

    t = pq.read_table(f"{SF001}/events.parquet")
    src = _log("rewrite")
    head = [_window(t, "2024-01-01", "2024-01-05"), _window(t, "2024-01-06", "2024-01-20")]
    _put(src, "part-0.parquet", pa.concat_tables(head))
    _put(src, "part-1.parquet", _window(t, "2024-01-20", "2024-02-01"))
    mv = _fresh_mv("mv_rewrite", src)
    assert "2024-01-05" not in mv.refresh(spark, src)

    _put(src, "part-0.parquet", _window(t, "2024-01-01", "2024-01-20"))
    assert mv.refresh(spark, src) == ["2024-01-05"]
    run = mv.last_refresh
    assert (run.mode, run.parts_scanned, run.parts_total) == ("full", 2, 2)
    assert _view(spark, mv, src) == _direct(spark, mv, src)


def test_deleted_view_directory_is_rematerialized(spark):
    t = pq.read_table(f"{SF001}/events.parquet")
    src = _log("deleted")
    _put(src, "part-0.parquet", _window(t, "2024-01-01", "2024-01-20"))
    _put(src, "part-1.parquet", _window(t, "2024-01-20", "2024-02-01"))
    mv = _fresh_mv("mv_deleted", src)
    days = mv.refresh(spark, src)

    shutil.rmtree(mv.path(src))
    assert mv.covered(src) is None
    assert mv.refresh(spark, src) == days
    assert mv.last_refresh.mode == "full"
    assert _view(spark, mv, src) == _direct(spark, mv, src)


def test_force_rebuilds_a_day_from_the_whole_source(spark):
    """A day split across two parts: the append's half is back-fill that an
    incremental refresh ignores; ``force`` rebuilds the day from both."""
    t = pq.read_table(f"{SF001}/events.parquet")
    src = _log("force_split")
    _put(src, "part-0.parquet", _window(t, "2024-01-01", "2024-01-15 12:00"))
    mv = _fresh_mv("mv_force_split", src)
    mv.refresh(spark, src)
    _put(src, "part-1.parquet", _window(t, "2024-01-15 12:00", "2024-02-01"))
    assert "2024-01-15" not in mv.refresh(spark, src)
    day = lambda rows: {k: n for k, n in rows.items() if k[0] == "2024-01-15"}
    assert day(_view(spark, mv, src)) != day(_direct(spark, mv, src))

    assert mv.refresh(spark, src, force=["2024-01-15"]) == ["2024-01-15"]
    run = mv.last_refresh
    assert (run.mode, run.parts_scanned, run.parts_total) == ("full", 2, 2)
    assert _view(spark, mv, src) == _direct(spark, mv, src)


def test_reading_a_40_day_view_is_one_job(spark):
    """The view's schema is known and its partition directories are
    listed on the driver: no inference job, no listing job."""
    import pyarrow as pa
    import pandas as pd

    ts = pd.date_range("2024-01-01", periods=40 * 4, freq="6h").as_unit("us")
    src = _log("forty")
    _put(src, "part-0.parquet", pa.table({
        "ts": pa.array(ts), "event_type": ["click"] * len(ts),
    }))
    mv = _fresh_mv("mv_forty", src)
    assert len(mv.refresh(spark, src)) == 40

    rows, tot = _grouped(spark, "mv_read_forty", lambda: mv.read(spark, src).collect())
    assert len({r.day for r in rows}) == 40
    assert tot["jobs"] == 1, tot
