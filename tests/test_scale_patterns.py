"""Independent replays for the explicit bloom operators (re-verified in
pure Python with hashlib — the ts_cross_corr lesson: oracle parity
can't catch a formula bug when both engines share the md5 algebra)
plus structural assertions that the pruning really engages."""

from __future__ import annotations

import hashlib
from collections import Counter

import duckdb
from pyspark.sql import functions as F

from mapreduce_server_spark.functions.hashing import md5_int
from mapreduce_server_spark.operators.scale_patterns import BLOOM_K, BLOOM_M
from mapreduce_server_spark.registry import REGISTRY
from mapreduce_server_spark.sources.loader import Tables

from .conftest import SF001


def _h(prefix: str, key: int, mod: int) -> int:
    return int(hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:8], 16) % mod


def test_md5_int_matches_hashlib_and_duckdb(spark):
    """md5_int against a hashlib replay and DuckDB's hand spelling:
    ASCII and non-ASCII text, int and string parts, Python literal and
    column parts, 4 and 8 hex digits, and a NULL part. The 4-digit case
    is the IVF trainer's sampler, which no fixture is large enough to
    run."""
    rows = [(0, "abc", 42), (1, "naïve — 日本語", -7), (2, None, 3), (3, "x", None)]
    s, i = F.col("s"), F.col("i")
    cases = [  # (engine parts, DuckDB text, hex digits)
        (("p:", s), "'p:' || s", 8),
        (("p:", s), "'p:' || s", 4),
        ((i,), "i::VARCHAR", 8),
        ((7, ":", i), "'7:' || i::VARCHAR", 8),
        (("tmp:", i), "'tmp:' || i::VARCHAR", 4),
        ((s, "|", i), "s || '|' || i::VARCHAR", 8),
    ]
    df = spark.createDataFrame(rows, "id int, s string, i int")
    got = df.orderBy("id").select(
        *[md5_int(*parts, hex_digits=n) for parts, _, n in cases]
    ).collect()
    values = ",".join(f"({r[0]}, {'NULL' if r[1] is None else repr(r[1])}, "
                      f"{'NULL' if r[2] is None else r[2]})" for r in rows)
    duck = duckdb.sql(
        "SELECT "
        + ", ".join(f"('0x' || substr(md5({t}), 1, {n}))::BIGINT"
                    for _, t, n in cases)
        + f" FROM (VALUES {values}) v(id, s, i) ORDER BY id"
    ).fetchall()
    want = []
    for _, sv, iv in rows:
        row = []
        for parts, _, n in cases:
            vals = [sv if p is s else iv if p is i else p for p in parts]
            text = None if None in vals else "".join(map(str, vals))
            row.append(None if text is None
                       else int(hashlib.md5(text.encode()).hexdigest()[:n], 16))
        want.append(tuple(row))
    assert [tuple(r) for r in got] == want == duck
    assert want[2][0] is None and want[3][2] is None


def test_bloom_matches_pure_python_and_never_false_negative(spark):
    members = {
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT o_custkey FROM '{SF001}/orders.parquet' "
            "WHERE o_orderstatus = 'F'"
        ).fetchall()
    }
    custs = [
        r[0]
        for r in duckdb.sql(
            f"SELECT c_custkey FROM '{SF001}/customer.parquet'"
        ).fetchall()
    ]
    bits = {
        _h(f"bm{k}:", m, BLOOM_M) for m in members for k in range(BLOOM_K)
    }
    expect = Counter(
        (
            all(_h(f"bm{k}:", c, BLOOM_M) in bits for k in range(BLOOM_K)),
            c in members,
        )
        for c in custs
    )
    got = {
        (r["in_bloom"], r["is_member"]): r["n"]
        for r in REGISTRY["sketch_bloom"].fn(spark, SF001).collect()
    }
    assert got == dict(expect)
    # structural bloom guarantee: a member never misses
    assert (False, True) not in got


def test_bloom_semi_prunes_before_exact_join(spark):
    t = Tables(spark, SF001)
    dim = t.customer.filter(
        (F.col("c_nationkey") == 3) & (F.col("c_acctbal") > 5000)
    ).select("c_custkey")
    n_dim = dim.count()
    n_orders = t.orders.count()
    # replicate just the prefilter stage: it must pass every true match
    # and drop the bulk of the fact side
    members = {r[0] for r in dim.collect()}
    bits = {
        _h(f"bf{k}:", m, BLOOM_M) for m in members for k in range(BLOOM_K)
    }
    custkeys = [r[0] for r in t.orders.select("o_custkey").collect()]
    passed = [
        c
        for c in custkeys
        if all(_h(f"bf{k}:", c, BLOOM_M) in bits for k in range(BLOOM_K))
    ]
    true_matches = sum(1 for c in custkeys if c in members)
    assert true_matches <= len(passed) < n_orders
    assert n_dim > 0
    # end result equals the plain semi-join aggregate
    plain = (
        t.orders.join(
            F.broadcast(dim),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )
    got = REGISTRY["join_bloom_semi"].fn(spark, SF001)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )
