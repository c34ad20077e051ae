"""Vector math over array embedding columns, emitted as Spark SQL text.

Every dot product, norm, cosine and squared distance in the package is
built here as SQL text and used through ``F.expr``: Spark parses the
whole expression in one call, where building it node by node from
Columns costs one py4j round trip per node (about a second for one
64-dim cosine).

Rules every builder keeps:

- **Order.** The sum is a sequential left fold in element order, seeded
  with 0.0 (0 for the int64 distance) — the order of the DuckDB
  oracle's ``list_sum``, so the doubles are bit-identical to it. The
  seed matters: 0.0 + (-0.0) is +0.0, so an all-negative-zero product
  chain must start from the same literal.
- **Width.** Elements are cast to DOUBLE before any arithmetic
  (float→double is exact).
- **Operands.** Each operand is column SQL text or a literal vector.
  Literal elements go through :func:`_dlit`, which the JVM parses to
  the identical bits. A literal vector's norm is folded once in Python
  (:func:`py_norm`, the same double ops in the same order) and emitted
  as one literal.
- **Unroll.** ``unroll=True`` adds a size-guarded unroll: when every
  column operand has ``FAST_DIM`` elements, the same ops in the same
  order written out as one expression, which whole-stage codegen
  compiles (higher-order functions evaluate an interpreted lambda per
  element). Any other length, or NULL, takes the fold. It pays where a
  plan evaluates one such expression per row over many rows (pair
  rescoring, the ml_* scans; 0.88 → 0.36 s per 100k dots). The fold is
  the default because plans that stack many literal-vector expressions
  in one projection (LSH planes, IVF centroids) fall out of codegen
  with the unroll and run slower than the fold (knn_join_lsh's 32-plane
  bucketing: 5.2 s unrolled, 0.45 s fold).

Scale: a dot product is O(dim) per row with zero shuffle; the expensive
part of any similarity operator is the candidate-pair generation, which is
the operator's (not this module's) concern — brute force broadcasts one
query vector, knn-join bounds candidates per key, LSH buckets first.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from math import isinf, isnan, sqrt

from pyspark.sql import Column
from pyspark.sql import functions as F

#: dimensionality of the committed embedding fixtures — the unroll is
#: generated for exactly this length; every other length takes the fold
#: (same values, interpreted speed).
FAST_DIM = 64

#: an operand: column SQL text, or a literal vector
Vec = str | Sequence[float]


def fsum(arr: Column) -> Column:
    """Sequential left-to-right double fold (matches list_sum order)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _dlit(v: float) -> str:
    """Exact Spark SQL DOUBLE literal: repr round-trips the double and
    Spark's parser is correctly rounded, so the JVM sees the identical
    bits. Finite values only: NaN and ±Inf have no SQL literal, so they
    raise ValueError (also under -O)."""
    v = float(v)
    if isnan(v) or isinf(v):
        raise ValueError(f"no exact SQL literal for non-finite {v!r}")
    return repr(v) + "D"


def _ilit(v: int) -> str:
    """Exact Spark SQL BIGINT literal."""
    return f"{int(v)}L"


def _fold(
    term: Callable[..., str],
    vecs: Sequence[Vec],
    *,
    unroll: bool = False,
    lit: Callable = _dlit,
    zero: str = "0.0D",
) -> str:
    """SQL text of Σ term(elements) over one or two operands: the
    ``zero``-seeded sequential left fold, or with ``unroll`` the same
    sum written out for FAST_DIM elements under a size guard on every
    column operand (module docstring). ``term`` maps the SQL text of
    one element per operand to the SQL text of its summand."""
    arrays = [
        v if isinstance(v, str) else "array(" + ", ".join(map(lit, v)) + ")"
        for v in vecs
    ]
    if len(vecs) == 1:
        src = f"transform({arrays[0]}, x -> {term('x')})"
    else:
        src = f"zip_with({arrays[0]}, {arrays[1]}, (x, y) -> {term('x', 'y')})"
    fold = f"aggregate({src}, {zero}, (acc, x) -> acc + x)"
    cols = [v for v in vecs if isinstance(v, str)]
    if not unroll or not cols or any(
        len(v) != FAST_DIM for v in vecs if not isinstance(v, str)
    ):
        return fold
    terms = " + ".join(
        term(*(f"{v}[{i}]" if isinstance(v, str) else lit(v[i]) for v in vecs))
        for i in range(FAST_DIM)
    )
    guard = " AND ".join(f"(size({c}) = {FAST_DIM})" for c in cols)
    return f"CASE WHEN {guard} THEN ({zero} + {terms}) ELSE ({fold}) END"


def _mul(x: str, y: str) -> str:
    return f"CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)"


def _sq_diff(x: str, y: str) -> str:
    d = f"(CAST({x} AS DOUBLE) - CAST({y} AS DOUBLE))"
    return f"{d} * {d}"


def py_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side twin of :func:`dot_sql`'s fold: the same double ops
    in the same order, so the value is bit-identical."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def py_norm(a: Sequence[float]) -> float:
    """Driver-side twin of :func:`norm_sql`'s fold (``math.sqrt`` and
    the JVM's ``Math.sqrt`` are both correctly rounded)."""
    return sqrt(py_dot(a, a))


def dot_sql(a: Vec, b: Vec, *, unroll: bool = False) -> str:
    """Dot product in double precision."""
    return _fold(_mul, (a, b), unroll=unroll)


def norm_sql(a: Vec, *, unroll: bool = False) -> str:
    """L2 norm in double precision; a literal vector's is one literal."""
    if not isinstance(a, str):
        return _dlit(py_norm(a))
    return f"sqrt({_fold(lambda x: _mul(x, x), (a,), unroll=unroll)})"


def cosine_sql(a: Vec, b: Vec, *, unroll: bool = False) -> str:
    """Cosine similarity: dot / (norm · norm)."""
    return (
        f"({dot_sql(a, b, unroll=unroll)}) / "
        f"(({norm_sql(a, unroll=unroll)}) * ({norm_sql(b, unroll=unroll)}))"
    )


def sq_dist_sql(a: Vec, b: Vec, *, unroll: bool = False) -> str:
    """Squared L2 distance in double precision."""
    return _fold(_sq_diff, (a, b), unroll=unroll)


def sq_dist_int_sql(a: Vec, b: Vec) -> str:
    """Exact int64 squared L2 distance between BIGINT arrays (literal
    vectors are integers); always the fold."""
    return _fold(
        lambda x, y: f"({x} - {y}) * ({x} - {y})", (a, b), lit=_ilit, zero="0L"
    )


#: DuckDB oracle fragment for :func:`dot_sql` (same fold order). The
#: oracle fragments are written by hand on purpose: generating them from
#: the engine's emitter would let one bug pass both sides.
DUCK_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"
)
#: DuckDB oracle fragment for :func:`norm_sql`.
DUCK_NORM = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
