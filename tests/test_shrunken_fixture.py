"""Shrunken-fixture robustness sweeps: EVERY oracle key must stay
Spark≡DuckDB when its base tables are truncated to degenerate sizes.

Why this gate exists: the fixture has been regenerated between rounds
before (the ts encoding drift), and round-7 ADVICE found one operator
(ts_holt_winters) whose Spark side silently diverged from its oracle on
a hypothetical sub-24h fixture. A round-8 audit of the same class found
EIGHT more — six ANSI DIVIDE_BY_ZERO errors where DuckDB's x/0 yields
NULL (anomaly_zscore, stat_dispersion, stat_runs_test, stat_welch_t,
ts_granger, ts_mad_outliers → F.try_divide), one positional
seasonal-index lookup that breaks when hours are missing
(ts_holt_seasonal → hour-keyed map + the oracle's inner-join drop
rule), and one NULL-vs-0 boolean-cast sum (sketch_kmv_jaccard → the
oracle's CASE). These sweeps turn that audit into CI:

  * events tier: a 12-row, 7-distinct-hour events table exercises
    empty hours, single-member groups, zero variances, zero-overlap
    sketches and degenerate regressions (~90 keys);
  * documents/embeddings/TPC-H tier: 25 documents, 25 embedding
    vectors and ~200 orders exercise 1-doc sources, vanishing
    languages, sparse LSH buckets, under-trained quantizers and empty
    join sides (~200 keys).

The truncations are pure filters of the committed sf0.001 fixture —
deterministic, no synthesis."""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pytest

from mapreduce_server_spark import REGISTRY
from mapreduce_server_spark.sources.loader import TABLE_NAMES

from .conftest import SF0001
from .parity import run_keys

#: full-registry parity sweeps are the FULL lane (`pytest` / CI); the
#: inner-loop lane skips them: `pytest -m 'not sweep'` (~10 min).
pytestmark = pytest.mark.sweep


@pytest.fixture(scope="module")
def shrunk_dir():
    d = tempfile.mkdtemp(prefix="shrunk12h_")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (SELECT * FROM read_parquet('{SF0001}/events.parquet')
              WHERE ts < (SELECT min(ts)
                          FROM read_parquet('{SF0001}/events.parquet'))
                         + INTERVAL 12 HOUR)
        TO '{os.path.join(d, "events.parquet")}' (FORMAT PARQUET)
        """
    )
    for t in TABLE_NAMES:
        if t != "events":
            shutil.copy(
                os.path.join(SF0001, f"{t}.parquet"),
                os.path.join(d, f"{t}.parquet"),
            )
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def shrunk_rows_dir():
    """Truncated documents (25), embeddings (25) and orders/lineitem
    (first ~200 orderkeys, lineitem kept referentially consistent);
    dimension tables stay whole."""
    d = tempfile.mkdtemp(prefix="shrunkrows_")
    con = duckdb.connect()
    okey = con.execute(
        f"SELECT min(o_orderkey) + 200 FROM read_parquet('{SF0001}/orders.parquet')"
    ).fetchone()[0]
    cuts = {
        "documents": "doc_id < 25",
        "embeddings": "vec_id < 25",
        "orders": f"o_orderkey <= {okey}",
        "lineitem": f"l_orderkey <= {okey}",
    }
    for t in TABLE_NAMES:
        if t in cuts:
            con.execute(
                f"""COPY (SELECT * FROM read_parquet('{SF0001}/{t}.parquet')
                          WHERE {cuts[t]})
                    TO '{os.path.join(d, f"{t}.parquet")}' (FORMAT PARQUET)"""
            )
        else:
            shutil.copy(
                os.path.join(SF0001, f"{t}.parquet"),
                os.path.join(d, f"{t}.parquet"),
            )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_events_oracle_survives_a_12_hour_fixture(spark, shrunk_dir):
    keys = sorted(
        k for k, s in REGISTRY.items() if s.oracle and "events" in s.oracle
    )
    assert len(keys) >= 80  # the sweep must actually cover the tier
    bad = run_keys(spark, shrunk_dir, {k: REGISTRY[k].raw_fn for k in keys})
    assert not bad, bad


def test_every_other_oracle_survives_truncated_tables(spark, shrunk_rows_dir):
    keys = sorted(
        k
        for k, s in REGISTRY.items()
        if s.oracle and "events" not in s.oracle
    )
    assert len(keys) >= 180  # the sweep must actually cover the tier
    bad = run_keys(spark, shrunk_rows_dir, {k: REGISTRY[k].raw_fn for k in keys})
    assert not bad, bad
