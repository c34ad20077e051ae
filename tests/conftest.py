from __future__ import annotations

import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_server_spark.session import get_spark  # noqa: E402
from mapreduce_server_spark.sources.loader import TABLE_NAMES  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "sweep: full-registry degenerate-fixture parity sweep "
        "(slow — each axis runs ~307 Spark+DuckDB oracle compares). "
        "Deselected by default so a plain `pytest tests/` finishes in "
        "~10 min (the driver-gate lane); the full lane (CI / endgame) "
        "is SPARK_GRAFT_FULL_SUITE=1 pytest tests/ (or -m sweep for "
        "the sweep axes alone).",
    )


def _sweep_deselected(config) -> bool:
    # an explicit marker expression wins (e.g. -m sweep)
    return not (os.environ.get("SPARK_GRAFT_FULL_SUITE") or config.getoption("-m"))


def pytest_report_header(config):
    if _sweep_deselected(config):
        return (
            "@sweep full-registry axes are deselected; "
            "SPARK_GRAFT_FULL_SUITE=1 runs them (the full lane)"
        )
    return None


def pytest_collection_modifyitems(config, items):
    """Default lane excludes the @pytest.mark.sweep axes (round-14,
    VERDICT r13 #1): the full suite runs ~90-220 min — outside any
    driver verification window — while the non-sweep lane (~10 min,
    ~620 tests) covers every operator, helper and lint. The sweep
    fixtures remain the CI/endgame lane: opt in with
    SPARK_GRAFT_FULL_SUITE=1 or an explicit -m expression."""
    if not _sweep_deselected(config):
        return
    deselected = [it for it in items if it.get_closest_marker("sweep")]
    if not deselected:
        return
    kept = [it for it in items if not it.get_closest_marker("sweep")]
    config.hook.pytest_deselected(items=deselected)
    items[:] = kept


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="mrss-tests", shuffle_partitions=8)
    yield s


def round6(x: float) -> float:
    """Spark's ``round(double, 6)`` in Python: Java
    ``BigDecimal.valueOf(x)`` parses ``Double.toString(x)`` — the
    shortest decimal rendering, which is Python's ``repr`` — then
    ``setScale(6, HALF_UP)`` (ties away from zero). Python's builtin
    ``round`` is wrong twice over: banker's rounding, applied to the
    binary value rather than the shortest decimal rendering. DuckDB's
    ``round`` agrees on the fixture values."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Oracle views over ``sf_dir``; a table stored as a directory of
    part files is read as all of them."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.fixture(scope="session")
def duck():
    """DuckDB oracle connection over the sf0.01 fixtures (the driver's t2 SF)."""
    return make_duck(SF001)
