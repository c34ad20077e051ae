"""The engine-portable deterministic hash.

Every sketch, sampler and shuffle key that must replay in the DuckDB
oracle hashes with one recipe: the first n hex digits of an md5 digest,
read as an integer. Spark spells it ``conv(substring(md5(s), 1, n), 16,
10)::long``; DuckDB spells it ``('0x' || substr(md5(s), 1, n))::BIGINT``.
Both engines compute the same md5 of the same UTF-8 bytes, so the
integers are equal bit for bit. With n ≤ 8 the value is below 2³², so
a ``% W`` bucket or a ``/ 2³²`` fraction is exact on both sides.

The oracle strings stay hand-written at each operator: they are the
reference the engine side is compared against, and emitting both from
one helper would let one bug pass both.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int(*parts: Column | str | int, hex_digits: int = 8) -> Column:
    """The first ``hex_digits`` hex digits of md5 over the concatenated
    parts, as a BIGINT. Python values are literals; Columns are cast to
    string. A NULL part gives NULL (``concat`` semantics)."""
    cols = [
        p.cast("string") if isinstance(p, Column) else F.lit(str(p)) for p in parts
    ]
    text = cols[0] if len(cols) == 1 else F.concat(*cols)
    h = F.md5(text.cast("binary"))
    return F.conv(F.substring(h, 1, hex_digits), 16, 10).cast("long")
