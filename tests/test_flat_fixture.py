"""Constant-column (zero-variance) fixture sweep: EVERY oracle key must
stay Spark≡DuckDB when measure columns are flattened to constants and
the documents corpus collapses to one source / one text.

Third axis of the degenerate-input gate (after the 12-hour and
truncated-rows sweeps in test_shrunken_fixture.py): truncations shrink
GROUPS, but only constant columns drive VARIANCE terms to zero — the
denominator class where Spark ANSI `/` throws DIVIDE_BY_ZERO while
DuckDB's x/0 yields NULL. The round-9 audit of exactly this fixture
found EIGHT such sites that both truncations had missed (agg_corr,
agg_stats — via ANSI F.corr itself, which throws on zero variance —
quality_drift_ks's single-source rest-side, stat_anova, stat_cramers_v's
single-category margin, stat_levene, stat_linreg, ts_autocorr), all
fixed with F.try_divide; this sweep keeps the class closed.

Flattening rules (``build_fixture(dest, "flat")``: pure REPLACE
projections of the committed sf0.001 fixture — deterministic, no
synthesis):
  * lineitem: l_quantity = 1.0, l_extendedprice = 100.0
  * events:   value = 5.0
  * customer: c_acctbal = 100.0
  * documents: one constant 3-token text, one source, constant n_chars
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from .parity import run_keys
from .test_empty_fixture import build_fixture, oracle_builds

#: full-registry parity sweeps are the FULL lane (`pytest` / CI); the
#: inner-loop lane skips them: `pytest -m 'not sweep'` (~10 min).
pytestmark = pytest.mark.sweep


@pytest.fixture(scope="module")
def flat_dir():
    d = tempfile.mkdtemp(prefix="flatfix_")
    build_fixture(d, "flat")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_constant_columns(spark, flat_dir):
    bad = run_keys(spark, flat_dir, oracle_builds())
    assert not bad, bad
