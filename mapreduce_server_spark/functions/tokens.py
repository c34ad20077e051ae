"""The engine's one tokenizer and its k-word shingle set.

The fixture corpus is strictly single-space separated (FIXTURES.md) and
the DuckDB oracles split with ``string_split(text, ' ')``, so tokens are
a literal single-space split, never ``\\s+`` (no regex-class drift
between the engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: str = "text") -> Column:
    """The words of ``col``: a literal single-space split."""
    return F.split(F.col(col), " ")


def shingles(col: str = "text", k: int = 3) -> Column:
    """The distinct k-word shingles of ``col`` as space-joined strings,
    in first-occurrence order; a text shorter than k words is its own
    single shingle. The oracles' twin is ``list_distinct(list_transform(
    generate_series(1, greatest(len(toks) - (k-1), 1)), ...))``.

    A NULL text yields ``['']`` here (``concat_ws`` drops the NULL) but
    no shingle in SQL, so callers drop NULL texts first."""
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )
