"""Vector math over array<float> embedding columns — JVM-side only.

Elements are cast float→double (exact) before multiplying so the
arithmetic is bit-identical to the DuckDB oracle's
``list_zip``/``list_sum`` form; see scalar_array for the proven pattern.

Round-13 optimization (guide §1.2 "per-task work"): Spark's
higher-order functions (``aggregate``/``zip_with``/``transform``) are
NOT whole-stage-codegen'd — every element evaluates an interpreted
lambda, and the noop-sink sweep showed the fold cost dominating the
similarity/ML-knn tier (knn_join_lsh 20 s, knn_recall 14 s,
ml_eval_confusion 9.5 s full recompute at sf0.1). ``dot``/``norm`` now
take a SIZE-GUARDED fast path: when both arrays have the fixture
dimensionality (64), an unrolled left-associated expression computes
the identical sequential double fold under codegen; any other length
(or NULL) falls back to the original fold. Bit-identity was verified
element-wise over 100k pairs (struct.pack comparison, probe in
OPTIMIZATION_r13.md): the unrolled sum performs the SAME double ops in
the SAME order, so no oracle can tell the difference. Measured 0.88 →
0.36 s per 100k dots (median of 3, noop sink).

Scale: a dot product is O(dim) per row with zero shuffle; the expensive
part of any similarity operator is the candidate-pair generation, which is
the operator's (not this module's) concern — brute force broadcasts one
query vector, knn-join bounds candidates per key, LSH buckets first.
"""

from __future__ import annotations

from math import isinf, isnan

from pyspark.sql import Column
from pyspark.sql import functions as F

#: dimensionality of the committed embedding fixtures — the unrolled
#: codegen fast path is generated for exactly this length; every other
#: length takes the general fold (same values, interpreted speed).
FAST_DIM = 64


def fsum(arr: Column) -> Column:
    """Sequential left-to-right double fold (matches list_sum order)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _dot_fold(a: Column, b: Column) -> Column:
    return fsum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def _dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    # starts from literal 0.0 exactly like the fold — NOT from the bare
    # first product: 0.0 + (-0.0) is +0.0, so an all-negative-zero
    # product chain must accumulate the same signed zeros as the fold
    acc = F.lit(0.0) + a.getItem(0).cast("double") * b.getItem(0).cast("double")
    for i in range(1, dim):
        acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return acc


def dot(a: Column, b: Column) -> Column:
    """Dot product in double precision (left fold order; codegen fast
    path at FAST_DIM — bit-identical, see module docstring)."""
    return F.when(
        (F.size(a) == FAST_DIM) & (F.size(b) == FAST_DIM),
        _dot_unrolled(a, b, FAST_DIM),
    ).otherwise(_dot_fold(a, b))


def _norm_fold(a: Column) -> Column:
    return F.sqrt(fsum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def _norm_unrolled(a: Column, dim: int) -> Column:
    x0 = a.getItem(0).cast("double")
    acc = F.lit(0.0) + x0 * x0  # signed-zero parity with the fold
    for i in range(1, dim):
        xi = a.getItem(i).cast("double")
        acc = acc + xi * xi
    return F.sqrt(acc)


def norm(a: Column) -> Column:
    """L2 norm in double precision (same fast-path discipline as dot)."""
    return F.when(F.size(a) == FAST_DIM, _norm_unrolled(a, FAST_DIM)).otherwise(
        _norm_fold(a)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision."""
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------------------
# Literal-vector fast builders (round 14).
#
# dot(col, F.lit(vec)) constructs the guarded unrolled expression node by
# node over py4j: ~300 JVM round-trips per call. Harmless once, but the
# plane/centroid operators build DOZENS of literal-vector dots per plan —
# knn_join_lsh's 32 planes measured 28-32 s of pure DRIVER build time per
# fresh plan (vs ~10 s to actually EXECUTE the query at sf0.1). These
# builders emit the equivalent expression as ONE SQL string parsed
# server-side in a single py4j call (~ms): the sequential 0.0-seeded
# fold, whose result is bit-for-bit the same as dot()'s on every input
# (the unroll ≡ fold identity pinned in round 13, re-pinned for these
# builders by tests/test_r14_optimizations.py over every
# (vector, plane) pair of the fixture corpus).
# ---------------------------------------------------------------------------


def _dlit(v: float) -> str:
    """Exact Spark SQL DOUBLE literal: repr round-trips the double and
    Spark's parser is correctly rounded, so the JVM sees the identical
    bits. Finite values only (planes/centroids/embeddings): NaN and ±Inf
    have no SQL literal, so they raise ValueError (also under -O)."""
    v = float(v)
    if isnan(v) or isinf(v):
        raise ValueError(f"no exact SQL literal for non-finite {v!r}")
    return repr(v) + "D"


def dot_lit_sql(col_sql: str, vec: list[float]) -> str:
    """SQL text of ``dot(F.expr(col_sql), F.lit(vec))`` — emitted as the
    sequential FOLD, not the FAST_DIM unroll. Bit-identical to dot()
    either way (the r13 pin: the unroll performs the same double ops in
    the same order as the fold), but these builders exist for plans
    that stack MANY literal-vector distances into one projection
    (32 LSH planes, 16 IVF centroids), where the unrolled form's
    thousands of expression nodes threw Janino out of whole-stage
    codegen and ran INTERPRETED-unrolled — measured 5.2 s vs the
    fold's 0.45 s for knn_join_lsh's bucketing pass, and 3.3 s vs
    0.5 s for the 16-centroid IVF distance array (A/B in
    OPTIMIZATION_r14.md). The per-row unroll win is real only where a
    plan evaluates ONE such distance (the Column-built FAST_DIM path
    above keeps it); per-plan × per-literal, the fold is the fast
    path."""
    arr = "array(" + ", ".join(_dlit(v) for v in vec) + ")"
    return (
        f"aggregate(zip_with({col_sql}, {arr}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def norm_sql(col_sql: str) -> str:
    """SQL text of ``norm(F.expr(col_sql))`` — the sequential
    square-sum fold under sqrt (fold-not-unroll per dot_lit_sql)."""
    return (
        f"sqrt(aggregate(transform({col_sql}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x))"
    )


def norm_lit_sql(vec: list[float]) -> str:
    """SQL text of ``norm(F.lit(vec))`` — emitted over the literal
    array so the ENGINE constant-folds it (never pre-computed in
    Python: the engine's own fold is the value of record)."""
    arr = "array(" + ", ".join(_dlit(v) for v in vec) + ")"
    return (
        f"sqrt(aggregate(transform({arr}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x))"
    )


def dot_cols_sql(a_sql: str, b_sql: str, *, unroll: bool = False) -> str:
    """SQL text of ``dot(F.expr(a_sql), F.expr(b_sql))`` for NAMED
    columns — one py4j parse instead of ~300 node-building round-trips.
    ``unroll=True`` emits dot()'s exact guarded FAST_DIM unroll
    (bit-identical by the r13 pin) for plans that evaluate ONE such dot
    per row at high volume under whole-stage codegen (knn_join_lsh's
    million-pair rescore); the default fold is right everywhere else
    (see dot_lit_sql on why stacked unrolls backfire)."""
    fold = (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x)"
    )
    if not unroll:
        return fold
    unrolled = "0.0D + " + " + ".join(
        f"CAST({a_sql}[{i}] AS DOUBLE) * CAST({b_sql}[{i}] AS DOUBLE)"
        for i in range(FAST_DIM)
    )
    return (
        f"CASE WHEN (size({a_sql}) = {FAST_DIM}) "
        f"AND (size({b_sql}) = {FAST_DIM}) "
        f"THEN ({unrolled}) ELSE ({fold}) END"
    )


def cosine_lit_sql(col_sql: str, vec: list[float]) -> str:
    """SQL text of ``cosine(F.expr(col_sql), F.lit(vec))``: same
    dot/(norm·norm) composition, every piece the fold form."""
    return (
        f"({dot_lit_sql(col_sql, vec)}) / "
        f"(({norm_sql(col_sql)}) * ({norm_lit_sql(vec)}))"
    )


def cosine_cols_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of ``cosine`` over two NAMED columns."""
    return (
        f"({dot_cols_sql(a_sql, b_sql)}) / "
        f"(({norm_sql(a_sql)}) * ({norm_sql(b_sql)}))"
    )


def l2sq_int_lit_sql(col_sql: str, centroid: list[int]) -> str:
    """SQL text of the exact int64 squared L2 distance between a
    micro-unit BIGINT array column and a literal integer centroid — the
    same zip_with/aggregate fold the py4j builder produced, emitted as
    one parseable string. Fold-not-unroll for the same measured reason
    as :func:`dot_lit_sql` (K stacked centroid distances threw the
    unroll out of codegen)."""
    arr = "array(" + ", ".join(f"{int(c)}L" for c in centroid) + ")"
    return (
        f"aggregate(zip_with({col_sql}, {arr}, "
        f"(x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
    )


#: DuckDB oracle fragment mirroring :func:`dot` exactly (same fold order).
DUCK_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"
)
#: DuckDB oracle fragment mirroring :func:`norm`.
DUCK_NORM = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
