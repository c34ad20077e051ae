"""DuckDB oracle check: each key's Spark rows against its registered SQL.

Views are built over the corpus the run ended with (for
dashboard-refresh, the grown copy whose ``events.parquet`` is a
directory). Rows are compared as an order-insensitive multiset with the
normalization of ``tests/parity.py``, exactly, with no float tolerance.
"""

from __future__ import annotations

import os

import duckdb

from mapreduce_server_spark import REGISTRY
from mapreduce_server_spark.sources.loader import TABLE_NAMES
from tests.parity import _multiset


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def mismatch(con, key: str, cols: list[str], rows) -> str | None:
    """``None`` when Spark's rows equal the oracle's, else the reason."""
    cur = con.execute(REGISTRY[key].oracle)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != {len(drows)}"
    if _multiset(cols, [tuple(r) for r in rows]) != _multiset(dcols, drows):
        return "values differ"
    return None


def check(sf_dir: str, results: dict[str, tuple[list[str], list]]) -> dict[str, str]:
    """Key → reason for every key whose rows the oracle rejects."""
    con = connect(sf_dir)
    bad = {}
    try:
        for key, (cols, rows) in sorted(results.items()):
            try:
                reason = mismatch(con, key, cols, rows)
            except Exception as e:  # an oracle that cannot run is a failure too
                reason = f"oracle error: {e!r}"
            if reason is not None:
                bad[key] = reason
    finally:
        con.close()
    return bad
