"""Focused tests for the round-14 optimization internals.

Each optimization that changed HOW an operator computes (never WHAT)
gets a pin here proving the new path is value-identical to the old
formulation it replaced:

- ``functions/pairs.skew_safe_pairs``: the mega-basket chunk split must
  produce the IDENTICAL pair multiset as the unsplit basket-local
  expression — directed and undirected — with a planted giant basket
  routed through the big branch, and per-chunk generation bounded to
  cap·n.
- ``knn_join_lsh`` candidate stage: the cell form (groupBy + cell-local
  directed pairs) must produce the identical DISTINCT candidate set as
  the round-13 self-join form over the real fixture.
- ``_baskets`` NULL-key guard: the basket form must agree with the
  oracle's self-join semantics on a corpus WITH NULL keys (ADVICE r13).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_server_spark.functions.pairs import (
    pair_expr,
    skew_safe_pairs,
)
from mapreduce_server_spark.operators.analytics import _baskets
from mapreduce_server_spark.operators.similarity import _join_bucket_exprs
from mapreduce_server_spark.sources.loader import Tables

from .conftest import SF001


def _pair_counts(df):
    return {
        (r["a"], r["b"]): r["n"]
        for r in df.groupBy(F.col(df.columns[0]).alias("a"),
                            F.col(df.columns[1]).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _baskets_fixture(spark):
    """3 baskets: one GIANT (60 distinct elements — far over the test
    cap), one normal, one singleton (generates no pairs)."""
    rows = (
        [(1, v) for v in range(60)]
        + [(2, v) for v in (3, 7, 11)]
        + [(3, 99)]
    )
    return (
        spark.createDataFrame(rows, "k int, v int")
        .groupBy("k")
        .agg(F.sort_array(F.collect_set("v")).alias("arr"))
    )


def test_skew_safe_pairs_identity_undirected(spark):
    b = _baskets_fixture(spark)
    naive = b.select(
        F.explode(
            pair_expr(F.col("arr"), directed=False, a_name="a", b_name="b")
        ).alias("p")
    ).select("p.a", "p.b")
    split = skew_safe_pairs(
        b, ["k"], "arr", directed=False, a_name="a", b_name="b", cap=8
    )
    assert _pair_counts(split) == _pair_counts(naive)
    # giant basket of 60 → C(60,2) + C(3,2) pairs in total
    assert sum(_pair_counts(split).values()) == 60 * 59 // 2 + 3


def test_skew_safe_pairs_identity_directed(spark):
    b = _baskets_fixture(spark)
    naive = b.select(
        F.explode(
            pair_expr(F.col("arr"), directed=True, a_name="a", b_name="b")
        ).alias("p")
    ).select("p.a", "p.b")
    split = skew_safe_pairs(
        b, ["k"], "arr", directed=True, a_name="a", b_name="b", cap=8
    )
    assert _pair_counts(split) == _pair_counts(naive)
    assert sum(_pair_counts(split).values()) == 60 * 59 + 3 * 2


def test_skew_safe_pairs_bounds_per_chunk_generation(spark):
    """The split's whole point (guide §2.5): no single row generates
    more than cap·n pairs of one giant basket, and the big branch is
    redistributed by (key, chunk) — one hot basket spans ⌈n/cap⌉
    chunk rows instead of pinning one task."""
    cap = 8
    b = _baskets_fixture(spark).where(F.size("arr") > cap)
    chunks = b.select(
        "k",
        "arr",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.size("arr") - F.lit(1)) / F.lit(cap)).cast("int"),
            )
        ).alias("_chunk"),
    )
    n_chunks = chunks.count()
    assert n_chunks == (60 + cap - 1) // cap  # ⌈60/8⌉ = 8 chunk rows
    from mapreduce_server_spark.functions.pairs import _chunk_pair_expr

    per_chunk = chunks.select(
        F.size(
            _chunk_pair_expr(
                F.col("arr"), F.col("_chunk"), cap,
                directed=True, a_name="a", b_name="b",
            )
        ).alias("n")
    ).collect()
    assert max(r["n"] for r in per_chunk) <= cap * 60
    assert sum(r["n"] for r in per_chunk) == 60 * 59
    # and the physical plan redistributes the chunk rows (an Exchange
    # keyed on the chunk id, not a single-partition pass-through)
    plan = skew_safe_pairs(
        b, ["k"], "arr", directed=True, a_name="a", b_name="b", cap=cap
    )._jdf.queryExecution().executedPlan().toString()
    assert "_chunk" in plan and "Exchange hashpartitioning" in plan


def test_knn_join_lsh_cell_form_matches_self_join_candidates(spark):
    """Round-14 candidate stage: cell-local directed pair generation
    must yield the IDENTICAL distinct candidate set as the round-13
    bucket self-join over the real fixture."""
    e = Tables(spark, SF001).embeddings
    b = e.select(
        "vec_id",
        F.posexplode(
            F.array(*_join_bucket_exprs("embedding"))
        ).alias("tbl", "bucket"),
    )
    x = b.select("vec_id", "tbl", "bucket")
    y = b.select(F.col("vec_id").alias("nbr_id"), "tbl", "bucket")
    old = (
        x.join(y, ["tbl", "bucket"])
        .where(F.col("vec_id") != F.col("nbr_id"))
        .select("vec_id", "nbr_id")
        .distinct()
    )
    cells = b.groupBy("tbl", "bucket").agg(
        F.sort_array(F.collect_set("vec_id")).alias("members")
    )
    new = skew_safe_pairs(
        cells, ["tbl", "bucket"], "members",
        directed=True, a_name="vec_id", b_name="nbr_id",
    ).distinct()
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_baskets_null_key_semantics_match_oracle_self_join(spark):
    """ADVICE r13: on a corpus WITH NULL keys, the basket form must
    reproduce the oracle's implicit NULL drops — NULL l_orderkey rows
    never join (so they contribute no baskets and must not count toward
    rec_lift_pairs' n_orders = countDistinct), NULL l_partkey never
    satisfies `<`/`<>` (so it contributes no pairs)."""
    rows = [
        (1, 10), (1, 20), (1, None),       # NULL partkey inside a basket
        (2, 10), (2, 20),
        (None, 10), (None, 20),            # NULL orderkey basket
        (3, None),                         # basket that is ONLY a NULL part
    ]
    li = spark.createDataFrame(rows, "l_orderkey int, l_partkey int")
    b = _baskets(li)
    # n_orders (rec_lift_pairs' total) == countDistinct(l_orderkey):
    # 1, 2, 3 — the NULL-orderkey basket is out, basket 3 (all-NULL
    # parts) forms but holds an empty set
    assert b.count() == li.agg(
        F.countDistinct("l_orderkey")
    ).collect()[0][0] == 3
    pairs = skew_safe_pairs(
        b, ["l_orderkey"], "parts",
        directed=False, a_name="part_a", b_name="part_b",
    )
    got = _pair_counts(pairs)
    # oracle self-join: DISTINCT (okey, pkey) ⋈ itself ON okey, pkey<pkey
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    c = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    want = _pair_counts(
        a.join(c, "k").where(F.col("pa") < F.col("pb")).select("pa", "pb")
    )
    assert got == want == {(10, 20): 2}
