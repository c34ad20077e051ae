"""Pins of the vector-expression builders in ``functions/vector.py``.

- ``_dlit`` guards must hold under ``python -O`` too.
- The FAST_DIM unroll is BIT-identical to the fold it shadows (same
  ops, same order, same signed zeros) for dot, norm and the squared
  distance, including the NULL and wrong-length fallbacks.
- A literal operand gives the same bits as the fold, and the
  driver-side literal norm is the engine's fold to the bit.
- Each operator keeps the form it was measured with: knn_bruteforce
  the fold, the single-distance-per-row sites the guarded unroll.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from mapreduce_server_spark.functions.vector import (
    FAST_DIM,
    _dlit,
    dot_sql,
    norm_sql,
    py_norm,
    sq_dist_sql,
)
from mapreduce_server_spark.sources.loader import Tables

from .conftest import SF001


@pytest.mark.parametrize("v", [float("nan"), float("inf"), float("-inf")])
def test_dlit_rejects_non_finite(v):
    with pytest.raises(ValueError):
        _dlit(v)


def test_dlit_round_trips_finite():
    assert _dlit(0.1) == "0.1D"
    assert float(_dlit(-2.5e-300)[:-1]) == -2.5e-300


@pytest.fixture(scope="module")
def emb_pairs(spark):
    """Adjacent-row 64-dim embedding pairs from the committed fixture —
    real float32 payloads, deterministic order."""
    e = Tables(spark, SF001).embeddings.select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("ka"), F.col("embedding").alias("ea"))
    b = e.select(
        (F.col("vec_id") - 1).alias("ka"), F.col("embedding").alias("eb")
    )
    return a.join(b, "ka").cache()


def _bits(sql):
    # shortest-decimal rendering distinguishes -0.0 from 0.0 and every
    # distinct double from its neighbours — a bit-identity proxy that
    # stays inside the engine
    return F.expr(sql).cast("string")


def _assert_same_bits(df, fast_sql, fold_sql):
    q = df.select(_bits(fast_sql).alias("fast"), _bits(fold_sql).alias("fold"))
    assert q.where(~F.col("fast").eqNullSafe(F.col("fold"))).count() == 0


def test_dot_fast_path_bit_identical_to_fold(emb_pairs):
    _assert_same_bits(
        emb_pairs, dot_sql("ea", "eb", unroll=True), dot_sql("ea", "eb")
    )


def test_norm_fast_path_bit_identical_to_fold(emb_pairs):
    _assert_same_bits(emb_pairs, norm_sql("ea", unroll=True), norm_sql("ea"))


def test_sq_dist_fast_path_bit_identical_to_fold(emb_pairs):
    _assert_same_bits(
        emb_pairs, sq_dist_sql("ea", "eb", unroll=True), sq_dist_sql("ea", "eb")
    )


def test_fast_path_fallbacks(spark):
    # wrong length -> general fold; NULL array / NULL element -> NULL
    # exactly like the fold the fast path shadows
    df = spark.createDataFrame(
        [
            ([1.0] * 32, [2.0] * 32),  # not FAST_DIM
            (None, [2.0] * FAST_DIM),  # NULL side
            ([1.0] * FAST_DIM, [None] + [2.0] * (FAST_DIM - 1)),  # NULL elt
        ],
        "a: array<double>, b: array<double>",
    )
    got = df.select(
        F.expr(dot_sql("a", "b", unroll=True)).alias("d"),
        F.expr(dot_sql("a", "b")).alias("f"),
    ).collect()
    assert got[0].d == got[0].f == 64.0  # 32 * (1*2)
    assert got[1].d is None and got[1].f is None
    assert got[2].d is None and got[2].f is None


def test_literal_dot_bit_identical_to_unroll(spark):
    """A literal operand's fold (the stacked-plane form) is BIT-identical
    to the guarded unroll over the same literal — over every (vector,
    plane) pair of the fixture corpus, plus the fallback cases (NULL,
    short array)."""
    from mapreduce_server_spark.operators.similarity import _hyperplane

    e = Tables(spark, SF001).embeddings
    planes = [_hyperplane(p) for p in (0, 7, 31)]
    cols = []
    for i, pl in enumerate(planes):
        cols.append(F.expr(dot_sql("embedding", pl, unroll=True)).alias(f"old{i}"))
        cols.append(F.expr(dot_sql("embedding", pl)).alias(f"new{i}"))
    rows = e.select(*cols).collect()
    for r in rows:
        for i in range(len(planes)):
            a, b = r[f"old{i}"], r[f"new{i}"]
            assert struct.pack("d", a) == struct.pack("d", b)
    # fallback parity: short array and NULL take the fold on both forms
    odd = spark.createDataFrame(
        [([1.5, -2.25, 0.5],), (None,)], "embedding array<float>"
    )
    short_plane = [1.0, -1.0, 1.0]
    got = odd.select(
        F.expr(dot_sql("embedding", "array(1.0D, -1.0D, 1.0D)", unroll=True))
        .alias("old"),
        F.expr(dot_sql("embedding", short_plane)).alias("new"),
    ).collect()
    assert [r["old"] for r in got] == [r["new"] for r in got]
    assert got[1]["new"] is None


def test_py_norm_bit_identical_to_engine_fold(spark):
    """The literal norm a cosine against a query vector embeds
    (``py_norm`` → ``_dlit``) is the engine's own fold to the bit, for
    every sf0.01 embedding."""
    rows = (
        Tables(spark, SF001)
        .embeddings.select("embedding", F.expr(norm_sql("embedding")).alias("n"))
        .collect()
    )
    assert rows
    for r in rows:
        assert struct.pack("d", py_norm(r["embedding"])) == struct.pack("d", r["n"])
        assert float(norm_sql(r["embedding"])[:-1]) == r["n"]


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_each_site_keeps_its_measured_form(spark):
    """knn_bruteforce evaluates the fold (no size guard: its memoized
    plan re-generates code per execution, where the unroll costs more
    than it saves); the one-distance-per-row sites keep the guarded
    unroll."""
    from mapreduce_server_spark import REGISTRY

    guard = f"= {FAST_DIM})"
    brute = _executed_plan(REGISTRY["knn_bruteforce"].raw_fn(spark, SF001))
    assert "aggregate(" in brute and guard not in brute
    for key in ("knn_ivf", "ml_knn_label", "rank_rrf"):
        plan = _executed_plan(REGISTRY[key].raw_fn(spark, SF001))
        assert "CASE WHEN" in plan and guard in plan, key
