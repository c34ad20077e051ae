"""Structured Streaming forms: same results as the batch keys, plus the
watermark late-data drop that only exists in streaming (SURVEY §2.I
stream_late — pytest-only, not oracle-gradable)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce_server_spark import REGISTRY
from mapreduce_server_spark.operators.events_batch import (
    click_purchase_pairs,
    hourly_totals,
    sliding_counts,
    user_hourly_totals,
)
from mapreduce_server_spark.sources.loader import load_table
from mapreduce_server_spark.streaming import twins

from .conftest import SF001
from .test_empty_fixture import build_fixture

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

EVENTS_DIR = os.path.join(SCRATCH, "events_stream_src")


def _events_dir() -> str:
    """Stage the sf0.001 events parquet into a scratch directory (the file
    stream source requires a directory)."""
    os.makedirs(EVENTS_DIR, exist_ok=True)
    dst = os.path.join(EVENTS_DIR, "events.parquet")
    if not os.path.exists(dst):
        shutil.copyfile(f"{SF001}/events.parquet", dst)
    return EVENTS_DIR


def _drain(spark, df, name, mode="append"):
    twins.run_to_memory(df, name, mode)
    return spark.table(name)


def test_tumbling_twin_matches_batch(spark):
    stream = twins.events_stream(spark, _events_dir())
    assert stream.isStreaming
    got = _drain(
        spark,
        hourly_totals(stream.withWatermark("ts", "1 hour"), "event_type"),
        "t_tumbling",
        "complete",
    )
    batch = REGISTRY["stream_tumbling"].fn(spark, SF001)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_session_twin_matches_batch_sessions(spark):
    stream = twins.events_stream(spark, _events_dir())
    got = _drain(spark, twins.session(stream), "t_session", "complete")
    batch = REGISTRY["stream_session"].fn(spark, SF001)
    # session ids are form-specific; compare sessions by
    # (user, start, n_events, sum_value)
    g = sorted((r.user_id, r.start_s, r.n_events, r.sum_value) for r in got.collect())
    b = sorted((r.user_id, r.start_s, r.n_events, r.sum_value) for r in batch.collect())
    assert g == b


def test_dedup_twin_keeps_unique_ids(spark):
    stream = twins.events_stream(spark, _events_dir())
    got = _drain(spark, twins.dedup(stream), "t_dedup")
    n_src = load_table(spark, SF001, "events").count()
    assert got.count() == n_src  # fixture event_ids are unique


def _fixture_ts_type() -> pa.DataType:
    """The fixture's current ts storage type — it has drifted across
    driver regenerations (int64 nanos → timestamp[us]), so hand-written
    event files must sniff it rather than assume an encoding (otherwise
    a directory mixing staged fixture files with written ones has two
    incompatible schemas)."""
    return pq.read_schema(f"{SF001}/events.parquet").field("ts").type


def _ts_array_us(us_values: list[int]) -> pa.Array:
    """Build a ts column from epoch-µs values, in the fixture's encoding."""
    t = _fixture_ts_type()
    if pa.types.is_timestamp(t):
        scale = {"s": None, "ms": None, "us": 1, "ns": 1000}[t.unit]
        assert scale, f"unsupported fixture ts unit {t.unit}"
        return pa.array([v * scale for v in us_values], pa.int64()).cast(t)
    assert t == pa.int64()  # nanos-era fixture
    return pa.array([v * 1000 for v in us_values], pa.int64())


def _write_events_file(path: str, rows: list[tuple[int, int]]) -> None:
    """(event_id, ts_seconds) rows → one parquet file with the fixture's
    storage schema (ts encoding sniffed from the fixture)."""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": _ts_array_us([r[1] * 1_000_000 for r in rows]),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(rows)),
        }
    )
    pq.write_table(table, path)


def test_watermark_drops_late_data(spark):
    """Two checkpointed runs force the batch order: run 1 sees only the
    future event and advances the watermark past the late event's window;
    run 2 ingests the late event — the tight-watermark pipeline drops it
    from state while the wide-watermark control keeps it."""
    base = 1_700_000_000

    def run_sequence(tag: str, watermark: str) -> int:
        src = os.path.join(SCRATCH, f"late_src_{tag}")
        ckpt = os.path.join(SCRATCH, f"late_ckpt_{tag}")
        for d in (src, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(src, exist_ok=True)

        def agg():
            stream = twins.events_stream(spark, src)
            return hourly_totals(stream.withWatermark("ts", watermark), "event_type")

        # update mode: each run emits only windows its batches touched —
        # complete mode would bypass watermarking entirely (no eviction).
        _write_events_file(os.path.join(src, "00.parquet"), [(1, base + 100_000)])
        twins.run_collect(agg(), "update", ckpt)
        _write_events_file(os.path.join(src, "01.parquet"), [(2, base)])
        return len(twins.run_collect(agg(), "update", ckpt))

    # tight watermark: run 2's late event is behind the checkpointed
    # watermark → filtered from the aggregate, nothing emitted
    assert run_sequence("tight", "10 minutes") == 0
    # wide watermark control: identical feed, late event updates its window
    assert run_sequence("wide", "720 hours") == 1


def test_stateful_first_seen_dedups_across_batches(spark):
    """applyInPandasWithState keeps per-user state across micro-batches:
    feeding the same events twice (two files, two batches) emits each
    user exactly once, matching the batch first-seen aggregation."""
    src = os.path.join(SCRATCH, "stateful_src")
    ckpt = os.path.join(SCRATCH, "stateful_ckpt")
    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    shutil.copyfile(f"{SF001}/events.parquet", os.path.join(src, "a.parquet"))
    shutil.copyfile(f"{SF001}/events.parquet", os.path.join(src, "b.parquet"))

    stream = twins.events_stream(spark, src, max_files_per_trigger=1)
    rows = twins.run_collect(twins.first_seen_users(stream), "append", ckpt)

    from pyspark.sql import functions as F

    batch = (
        load_table(spark, SF001, "events")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).cast("string").alias("first_day"))
        .collect()
    )
    assert sorted((r.user_id, r.first_day) for r in rows) == sorted(
        (r.user_id, r.first_day) for r in batch
    )


def test_sliding_twin_matches_batch(spark):
    stream = twins.events_stream(spark, _events_dir())
    got = _drain(
        spark, sliding_counts(stream.withWatermark("ts", "1 hour")), "t_sliding", "complete"
    )
    batch = REGISTRY["stream_sliding"].fn(spark, SF001)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


@pytest.mark.parametrize("axis", ["base", "nullskew"])
def test_topk_twin_matches_batch(spark, tmp_path, axis):
    """stream_topk's pre-aggregate over a watermarked stream, as
    compacted update-mode state (+ the sink-side per-window top-3 rank,
    the deployment split stream_topk's docstring describes), equals the
    batch operator exactly. The sink keeps the LAST emission per
    (window, user) — the update-mode compaction rule — so the
    comparison holds regardless of how many triggers the file source
    splits the input into. The ``nullskew`` axis (90% of user_ids NULL)
    checks that the streaming form drops the NULL user as the key does."""
    sf_dir, events_dir = SF001, _events_dir()
    if axis == "nullskew":
        sf_dir, events_dir = str(tmp_path / "fixture"), str(tmp_path / "stream")
        os.makedirs(sf_dir)
        os.makedirs(events_dir)
        build_fixture(sf_dir, axis, SF001)
        shutil.copyfile(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(events_dir, "events.parquet"),
        )
    stream = twins.events_stream(spark, events_dir, max_files_per_trigger=1)
    ckpt = str(tmp_path / "ck_topk")
    rows = twins.run_collect(
        user_hourly_totals(stream.withWatermark("ts", "1 hour")), "update", ckpt
    )
    state: dict[tuple, tuple] = {}
    for r in rows:  # update mode: later emission = newer state row
        state[(r.ws_s, r.user_id)] = (r.n, r.sum_value)
    per_win: dict = {}
    for (ws_s, user_id), (n, sv) in state.items():
        per_win.setdefault(ws_s, []).append((-n, user_id, n, sv))
    got = set()
    for ws_s, members in per_win.items():
        for rk, (_neg, user_id, n, sv) in enumerate(sorted(members)[:3], 1):
            got.add((ws_s, user_id, n, sv, rk))
    batch = {
        (r.ws_s, r.user_id, r.n, r.sum_value, r.rk)
        for r in REGISTRY["stream_topk"].fn(spark, sf_dir).collect()
    }
    assert got == batch


def test_interval_join_twin_matches_batch(spark):
    """Stream-stream interval join over one drain equals the batch
    stream_join (same events, same 24 h bound)."""
    stream_c = twins.events_stream(spark, _events_dir())
    stream_p = twins.events_stream(spark, _events_dir())
    src = os.path.join(SCRATCH, "sjoin_ckpt")
    shutil.rmtree(src, ignore_errors=True)
    rows = twins.run_collect(
        click_purchase_pairs(
            stream_c.withWatermark("ts", "1 hour"),
            stream_p.withWatermark("ts", "1 hour"),
        ),
        "append",
        src,
    )
    batch = REGISTRY["stream_join"].fn(spark, SF001).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, batch))
    assert len(rows) > 0


def test_stateful_running_totals_on_rocksdb(spark):
    """applyInPandasWithState keeps per-user running totals across
    micro-batches, on the RocksDB state-store provider (the at-scale
    provider config): feeding the events twice in two batches must end at
    exactly 2× the single-pass totals, and the intermediate emission must
    show per-batch accumulation."""
    src = os.path.join(SCRATCH, "tws_src")
    ckpt = os.path.join(SCRATCH, "tws_ckpt")
    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    shutil.copyfile(f"{SF001}/events.parquet", os.path.join(src, "a.parquet"))
    shutil.copyfile(f"{SF001}/events.parquet", os.path.join(src, "b.parquet"))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", twins.ROCKSDB_PROVIDER
    )
    try:
        stream = twins.events_stream(spark, src, max_files_per_trigger=1)
        rows = twins.run_collect(twins.user_totals(stream), "update", ckpt)
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    from pyspark.sql import functions as F

    batch = {
        r.user_id: (r.n, r.cents)
        for r in load_table(spark, SF001, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    # final state per user = 2× the single-pass totals
    final = {}
    for r in rows:
        n, total = final.get(r.user_id, (0, 0.0))
        final[r.user_id] = max((n, total), (r.n_events, r.total_value))
    assert final == {
        u: (2 * n, 2 * cents / 100.0) for u, (n, cents) in batch.items()
    }
    # two emissions per user (one per micro-batch)
    assert len(rows) == 2 * len(batch)


def test_ewma_twin_matches_batch(spark):
    """One drain of the per-user stateful EWMA equals the batch ts_ewma
    bit-for-bit (same (ts, event_id) fold order, α=0.5 exact halvings)."""
    ckpt = os.path.join(SCRATCH, "ewma_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = twins.events_stream(spark, _events_dir())
    rows = twins.run_collect(twins.ewma(stream), "update", ckpt)
    batch = {
        r.user_id: (r.n_events, r.ewma_last)
        for r in REGISTRY["ts_ewma"].fn(spark, SF001).collect()
    }
    got = {r.user_id: (r.n_events, r.ewma_last) for r in rows}
    assert got == batch and len(got) > 0


def test_holt_twin_matches_batch(spark):
    """One drain of the per-user stateful Holt fold equals the batch
    ts_holt struct-aggregate bit-for-bit (same (ts, event_id) order,
    same seed, alpha=beta=0.5 exact halvings)."""
    ckpt = os.path.join(SCRATCH, "holt_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = twins.events_stream(spark, _events_dir())
    rows = twins.run_collect(twins.holt(stream), "update", ckpt)
    batch = {
        r.user_id: (r.n_events, r.level_last, r.trend_last)
        for r in REGISTRY["ts_holt"].fn(spark, SF001).collect()
    }
    got = {r.user_id: (r.n_events, r.level_last, r.trend_last) for r in rows}
    assert got == batch and len(got) > 0


def test_session_timer_twin_flushes_all_sessions(spark):
    """Timer-based sessionization: successor events close sessions
    inline; EventTimeTimeout timers close idle ones as the watermark
    advances (two far-future sentinel batches push it past every real
    session). After the drain, emitted real-user sessions must equal the
    batch stream_session output exactly."""
    from pyspark.sql import functions as F

    src = os.path.join(SCRATCH, "sess_timer_src")
    ckpt = os.path.join(SCRATCH, "sess_timer_ckpt")
    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    shutil.copyfile(f"{SF001}/events.parquet", os.path.join(src, "a_events.parquet"))

    max_us = (
        load_table(spark, SF001, "events")
        .agg(F.max(F.unix_micros("ts")))
        .first()[0]
    )
    for i, days in enumerate((10, 20)):
        ts_us = max_us + days * 86_400 * 1_000_000
        tbl = pa.table(
            {
                "event_id": pa.array([10_000_000 + i], pa.int64()),
                "ts": _ts_array_us([ts_us]),
                "user_id": pa.array([-1 - i], pa.int64()),
                "event_type": pa.array(["sentinel"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        )
        path = os.path.join(src, f"b_sentinel_{i}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (2_000_000_000 + i, 2_000_000_000 + i))

    stream = twins.events_stream(spark, src, max_files_per_trigger=1)
    rows = twins.run_collect(twins.session_timer(stream), "append", ckpt)
    got = {
        (r.user_id, r.start_s, r.end_s, r.n_events, r.sum_value)
        for r in rows
        if r.user_id >= 0
    }
    batch = {
        (r.user_id, r.start_s, r.end_s, r.n_events, r.sum_value)
        for r in REGISTRY["stream_session"].fn(spark, SF001).collect()
    }
    assert got == batch and len(got) > 0


def test_cusum_twin_matches_batch(spark):
    """One drain of the trained-baseline streaming CUSUM equals the
    batch ts_cusum fold bit-for-bit: the baseline (exact-decimal mu/sigma)
    is broadcast onto the stream and the {c, mx, alarms} state folds in
    the same (ts, event_id) order with the same IEEE double ops."""
    from mapreduce_server_spark.operators.stats_ml import cusum_baseline

    ckpt = os.path.join(SCRATCH, "cusum_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = twins.events_stream(spark, _events_dir())
    baseline = cusum_baseline(spark, SF001)
    rows = twins.run_collect(twins.cusum(stream, baseline), "update", ckpt)
    batch = {
        r.user_id: (r.n, r.max_cusum, r.n_alarms)
        for r in REGISTRY["ts_cusum"].fn(spark, SF001).collect()
    }
    got = {r.user_id: (r.n_events, r.max_cusum, r.n_alarms) for r in rows}
    assert set(got) == set(batch) and len(got) > 0
    for uid, (n, mx, al) in batch.items():
        gn, gmx, gal = got[uid]
        assert gn == n and gal == al, uid
        # batch rounds the final max to 6 dp; the raw stream value must
        # round to the same 6-dp figure
        assert abs(gmx - mx) < 5e-7, uid
