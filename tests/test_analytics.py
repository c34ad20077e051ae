"""Semantic tests for the composite analytics operators (analytics.py).

The exact-value gate is the DuckDB oracle (driver_sim); these assert the
*invariants* the oracle can't express — funnel monotonicity, SCD2 interval
validity, merge completeness — at sf0.01.
"""

from __future__ import annotations

from mapreduce_server_spark import REGISTRY

from .conftest import SF001


def test_funnel_counts_monotone_nonincreasing(spark):
    rows = {r.stage: r.n_users for r in REGISTRY["funnel_stages"].fn(spark, SF001).collect()}
    assert set(rows) == {"1_view", "2_click_after_view", "3_purchase_after_click"}
    assert rows["1_view"] >= rows["2_click_after_view"] >= rows["3_purchase_after_click"]
    assert rows["3_purchase_after_click"] > 0  # funnel not degenerate at sf0.01


def test_merge_upsert_covers_every_customer_once(spark):
    out = REGISTRY["merge_upsert"].fn(spark, SF001).collect()
    t = spark.read.parquet(f"{SF001}/customer.parquet")
    assert len(out) == t.count()
    assert len({r.c_custkey for r in out}) == len(out)
    # fixture has 0 customers without orders → no sentinel rows at sf0.01
    assert all(r.last_status in ("P", "O", "F", "NONE") for r in out)


def test_scd2_intervals_are_valid_partitions_of_time(spark):
    rows = REGISTRY["scd2_intervals"].fn(spark, SF001).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from_us)
        # exactly one open (current) interval per user, and it is the last
        assert sum(1 for r in ivs if r.valid_to_us is None) == 1
        assert ivs[-1].valid_to_us is None and ivs[-1].is_current
        for prev, nxt in zip(ivs, ivs[1:]):
            # intervals chain without gaps and never repeat the attribute
            assert prev.valid_to_us == nxt.valid_from_us
            assert prev.event_type != nxt.event_type


def test_cooccur_pairs_ordered_and_thresholded(spark):
    rows = REGISTRY["cooccur_parts"].fn(spark, SF001).collect()
    assert rows, "sf0.01 baskets produce recurring pairs"
    assert all(r.part_a < r.part_b and r.n_orders >= 2 for r in rows)


def test_anomaly_zscore_flags_are_tail_values(spark):
    ev = spark.read.parquet(f"{SF001}/events.parquet")
    n_total = ev.count()
    rows = REGISTRY["anomaly_zscore"].fn(spark, SF001).collect()
    # |z| > 2.4 keeps roughly the ~1.6% two-sided tail of a flat-ish
    # distribution — sanity-bound it well under 10% of events
    assert 0 < len(rows) < 0.1 * n_total
    assert all(abs(r.z) > 2.39 for r in rows)


def test_ts_fill_forward_grid_dense_and_filled(spark):
    rows = REGISTRY["ts_fill_forward"].fn(spark, SF001).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, grid in by_user.items():
        grid.sort(key=lambda r: r.hour_s)
        hours = [r.hour_s for r in grid]
        assert hours == list(range(hours[0], hours[-1] + 1 * 3600, 3600))
        assert not grid[0].is_filled  # grid starts at an observed hour
        last_observed = None
        for r in grid:
            if r.is_filled:
                assert r.n_events == 0 and r.sum_filled == last_observed
            else:
                assert r.n_events > 0
                last_observed = r.sum_filled


def test_concurrency_peak_matches_bruteforce(spark):
    """Sweep-line peak equals the O(n²) definition: for each interval
    start, count intervals of the same type covering it (half-open
    [ts, ts+5m)); the max over starts is the peak (peaks occur at
    starts)."""
    from pyspark.sql import functions as F

    from mapreduce_server_spark.sources.loader import Tables

    from .conftest import SF0001

    got = {
        r.event_type: r.peak_concurrency
        for r in REGISTRY["concurrency_peak"].fn(spark, SF0001).collect()
    }
    ev = Tables(spark, SF0001).events.select("event_type", "ts")
    a, b = ev.alias("a"), ev.alias("b")
    brute = {
        r.event_type: r.peak
        for r in a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.ts") <= F.col("a.ts"))
            & (F.col("a.ts") < F.col("b.ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), F.col("a.ts"))
        .agg(F.count(F.lit(1)).alias("conc"))
        .groupBy("event_type")
        .agg(F.max("conc").alias("peak"))
        .collect()
    }
    assert got == brute and len(got) > 0


def test_cohort_retention_drops_null_users_and_counts_null_weeks(spark, tmp_path):
    """A NULL user_id joins no cohort in the oracle, so its rows drop; a
    user's NULL week is still a (user, week) row, counted in a NULL
    week_index cell of that user's cohort."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .conftest import SF0001
    from .parity import run_keys

    d = str(tmp_path / "sf")
    shutil.copytree(SF0001, d)
    ev = pq.read_table(f"{d}/events.parquet")
    i = pc.bit_wise_and(ev["event_id"], 7)
    ev = ev.set_column(
        ev.schema.get_field_index("user_id"), ev.schema.field("user_id"),
        pc.if_else(pc.equal(i, 3), pa.scalar(None, ev["user_id"].type), ev["user_id"]),
    )
    ev = ev.set_column(
        ev.schema.get_field_index("ts"), ev.schema.field("ts"),
        pc.if_else(pc.equal(i, 5), pa.scalar(None, ev["ts"].type), ev["ts"]),
    )
    pq.write_table(ev, f"{d}/events.parquet")
    key = "cohort_retention"
    assert run_keys(spark, d, {key: REGISTRY[key].fn}) == {}
    rows = REGISTRY[key].fn(spark, d).collect()
    assert any(r.week_index is None for r in rows)
