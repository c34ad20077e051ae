"""Semantics tests for the data-quality / sketch operators beyond the
oracle sweep: independent reference implementations and the invariants
the two-phase heavy-hitter plan relies on."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from mapreduce_server_spark import REGISTRY
from mapreduce_server_spark.operators.quality import HH_K
from mapreduce_server_spark.functions.tokens import tokens
from mapreduce_server_spark.sources.loader import Tables

from .conftest import SF0001


def test_heavy_hitters_matches_bruteforce(spark):
    """The pruned two-phase plan must equal a plain exact groupBy +
    threshold (independent implementation — no candidate phase)."""
    got = {
        (r.word, r.n_word)
        for r in REGISTRY["heavy_hitters"].fn(spark, SF0001).collect()
    }
    toks = Tables(spark, SF0001).documents.select(
        F.explode(tokens()).alias("word")
    )
    n = toks.count()
    expected = {
        (r.word, r.c)
        for r in toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") * HH_K > F.lit(n))
        .collect()
    }
    assert got == expected and len(got) > 0


def test_heavy_hitters_partitioning_invariant(spark):
    """The candidate set varies with physical layout; the ANSWER must not.
    Re-run the same logical plan under a very different partition count by
    narrowing the scan partition size — results must be identical."""
    base = sorted(
        (r.word, r.n_word)
        for r in REGISTRY["heavy_hitters"].fn(spark, SF0001).collect()
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024))
        many = sorted(
            (r.word, r.n_word)
            for r in REGISTRY["heavy_hitters"].raw_fn(spark, SF0001).collect()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert base == many


def test_ts_ewma_matches_recursive_reference(spark):
    """Bit-identical to a row-at-a-time recursive EWMA in pandas (α=0.5:
    halvings are exact, so the fold is one rounded add per step — the
    reference performs the same op sequence)."""
    got = {
        r.user_id: (r.n_events, r.ewma_last)
        for r in REGISTRY["ts_ewma"].fn(spark, SF0001).collect()
    }
    ev = (
        Tables(spark, SF0001)
        .events.select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    for uid, g in ev.groupby("user_id"):
        s = None
        for x in g["value"]:
            s = x if s is None else x * 0.5 + s * 0.5
        assert got[uid] == (len(g), s), uid
    assert len(got) == ev["user_id"].nunique()


def test_join_salted_equals_plain_join(spark):
    """Salting must be result-transparent (Spark-side differential, on
    top of the SQL-oracle check)."""
    t = Tables(spark, SF0001)
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (1 - F.col("l_discount")).cast("decimal(8,2)")
    plain = (
        t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(ep * disc).cast("double").alias("revenue"),
        )
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, REGISTRY["join_salted"].fn(spark, SF0001).collect())
    )


def test_dq_constraints_on_fixture(spark):
    """5 rules hold on the fixture; (l_orderkey, l_linenumber) genuinely
    is NOT unique in the generated lineitem (line numbers repeat within
    an order) — the rule must report exactly the independently-computed
    duplicate count, proving the gate detects real violations, not just
    emits zeros."""
    rows = {r.rule: r.n_violations for r in REGISTRY["dq_constraints"].fn(spark, SF0001).collect()}
    assert len(rows) == 6
    clean = {
        "orders_pk_unique",
        "orders_totalprice_positive",
        "lineitem_discount_range",
        "orders_fk_customer",
        "lineitem_fk_orders",
    }
    assert all(rows[r] == 0 for r in clean)
    li = Tables(spark, SF0001).lineitem
    dup_pairs = li.count() - li.select("l_orderkey", "l_linenumber").distinct().count()
    assert rows["lineitem_pk_unique"] == dup_pairs > 0


def test_dq_constraints_detects_planted_violations(spark):
    """The rules must actually fire: plant one duplicate PK, one dangling
    FK and one negative price in a tiny orders/customer pair and check
    the same rule expressions count them (exercises the rule exprs
    directly — the registry op is fixture-bound)."""
    cust = spark.createDataFrame([(1,), (2,)], "c_custkey long")
    orders = spark.createDataFrame(
        [(10, 1, 5.0), (10, 1, 5.0), (11, 99, 5.0), (12, 2, -3.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    pk = orders.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v")
    ).first()["v"]
    fk = (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti"
        ).count()
    )
    price = orders.where(
        F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
    ).count()
    assert (pk, fk, price) == (1, 1, 1)


def test_dq_profile_shape(spark):
    rows = {r.col_name: r for r in REGISTRY["dq_profile"].fn(spark, SF0001).collect()}
    n_docs = Tables(spark, SF0001).documents.count()
    assert set(rows) == {"doc_id", "text", "lang", "source", "n_chars"}
    assert all(r.n_rows == n_docs and r.n_null == 0 for r in rows.values())
    assert rows["doc_id"].n_distinct == n_docs
    assert pd.notna(rows["lang"].min_str)


def test_observation_collects_dq_metrics_in_one_pass(spark):
    """`df.observe` attaches DQ counters to a query already running for
    another purpose — row count, violation count and an exact-decimal
    checksum arrive with the action, no second scan (at 100 TB the
    difference between auditing a load and re-reading it). Metrics must
    equal independently computed aggregates."""
    from pyspark.sql import Observation

    orders = Tables(spark, SF0001).orders
    obs = Observation("dq_load_audit")
    audited = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("bad_price"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("checksum"),
    )
    # the "real" job: something unrelated downstream of the audit point
    n_f = audited.where(F.col("o_orderstatus") == "F").count()
    metrics = obs.get
    direct = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("checksum"),
    ).first()
    assert metrics["n_rows"] == direct["n_rows"]
    assert metrics["bad_price"] == 0
    assert metrics["checksum"] == direct["checksum"]
    assert 0 < n_f < metrics["n_rows"]  # downstream filter really filtered
