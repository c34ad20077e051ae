"""Property-based testing for the rank-statistics tier: hypothesis
micro-fixtures with HEAVY ties through the real stat_spearman /
stat_mannwhitney / stat_kendall operators, against pure-Python replays
of the documented formulas.

Why this tier: tie handling is where rank statistics break (midrank
off-by-halves, tie-inclusive vs exclusive running counts, tau-b's
tied-pair exclusions), and the committed fixture's ~97%-unique prices
barely exercise it. These corpora are built FROM tie-heavy small
domains — including price values sitting exactly on stat_spearman's
floor(price/1000) bucket boundaries (999 vs 1000), the two-level rank's
seam — plus degenerate slices (constant columns, single-member groups)
that drive the denominators to 0/0 = NaN on both sides.

Replay float discipline: explicit sequential loops over int moments,
`math.sqrt`, Decimal HALF_UP 6-dp rounds; NaN compared via isnan.
"""

from __future__ import annotations

import datetime
import math
import os
import shutil
import tempfile
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce_server_spark.operators.stats_ml import (
    stat_kendall,
    stat_mannwhitney,
    stat_spearman,
)

from .conftest import round6

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

LI_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.sampled_from([1.0, 2.0, 3.0]),
        # exact-binary prices straddling the floor(price/1000) buckets
        st.sampled_from([500.0, 999.0, 1000.0, 1500.0, 2500.0]),
        st.integers(0, 4),  # day offset
    ),
    min_size=1,
    max_size=40,
)

BASE_DAY = datetime.datetime(1996, 1, 1)


def _write_lineitem(rows) -> str:
    d = tempfile.mkdtemp(prefix="prop_stats_")
    t = pa.table(
        {
            "l_returnflag": pa.array([r[0] for r in rows]),
            "l_quantity": pa.array([r[1] for r in rows], type=pa.float64()),
            "l_extendedprice": pa.array(
                [r[2] for r in rows], type=pa.float64()
            ),
            "l_shipdate": pa.array(
                [BASE_DAY + datetime.timedelta(days=r[3]) for r in rows],
                type=pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(t, os.path.join(d, "lineitem.parquet"))
    return d


def _doubled_midranks(vals: list[float]) -> list[int]:
    """2·midrank per element: 2·(#strictly smaller) + (#equal) + 1 —
    exact integers, the stat_spearman/mannwhitney spelling."""
    out = []
    for v in vals:
        bef = sum(1 for w in vals if w < v)
        cnt = sum(1 for w in vals if w == v)
        out.append(2 * bef + cnt + 1)
    return out


def _safe_div6(num: float, den: float):
    """Mirror of the operators' F.try_divide + round: zero divisor →
    NULL on both engines (DuckDB x/0 is NULL; Spark ANSI `/` would
    throw, which is exactly why the operators use try_divide)."""
    if den == 0.0:
        return None
    return round6(num / den)


def _eq(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return a == b


@given(LI_ROWS)
@SETTINGS
def test_stat_spearman_property(spark, rows):
    sf_dir = _write_lineitem(rows)
    try:
        expect = {}
        for flag in {r[0] for r in rows}:
            xs = [r[1] for r in rows if r[0] == flag]
            ys = [r[2] for r in rows if r[0] == flag]
            rx = _doubled_midranks(xs)
            ry = _doubled_midranks(ys)
            n = len(rx)
            sx = sy = sxy = sxx = syy = 0
            for a, b in zip(rx, ry):
                sx += a
                sy += b
                sxy += a * b
                sxx += a * a
                syy += b * b
            fn, fsx, fsy = float(n), float(sx), float(sy)
            num = fn * float(sxy) - fsx * fsy
            den = math.sqrt(
                (fn * float(sxx) - fsx * fsx) * (fn * float(syy) - fsy * fsy)
            )
            expect[flag] = (n, _safe_div6(num, den))

        got = stat_spearman(spark, sf_dir).collect()
        assert len(got) == len(expect)
        for r in got:
            n, rho = expect[r["l_returnflag"]]
            assert r["n"] == n
            assert _eq(r["rho"], rho), (r["l_returnflag"], r["rho"], rho)
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)


DOC_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1", "s2"]),
        st.sampled_from([10, 20, 30]),
    ),
    min_size=1,
    max_size=40,
)


def _write_documents(rows) -> str:
    d = tempfile.mkdtemp(prefix="prop_stats_doc_")
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(rows)), dtype="int64"),
            "text": ["x" * n for _, n in rows],
            "lang": ["en"] * len(rows),
            "source": [s for s, _ in rows],
            "n_chars": pd.array([n for _, n in rows], dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), os.path.join(d, "documents.parquet"))
    return d


@given(DOC_ROWS)
@SETTINGS
def test_stat_mannwhitney_property(spark, rows):
    sf_dir = _write_documents(rows)
    try:
        vals = [n for _, n in rows]
        nt = len(rows)
        expect = {}
        for src in {s for s, _ in rows}:
            sv = [n for s, n in rows if s == src]
            ns = len(sv)
            # r2 = Σ over source docs of the doubled midrank in the
            # POOLED sample (2·bef + cnt + 1)
            r2 = 0
            for v in sv:
                bef = sum(1 for w in vals if w < v)
                cnt = sum(1 for w in vals if w == v)
                r2 += 2 * bef + cnt + 1
            u = (r2 - ns * (ns + 1)) / 2.0
            auc = _safe_div6(u, float(ns) * (nt - ns))
            expect[src] = (ns, u, auc)

        got = stat_mannwhitney(spark, sf_dir).collect()
        assert len(got) == len(expect)
        for r in got:
            ns, u, auc = expect[r["source"]]
            assert r["n_s"] == ns
            assert r["u_stat"] == u
            assert _eq(r["auc"], auc), (r["source"], r["auc"], auc)
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)


@given(LI_ROWS)
@SETTINGS
def test_stat_kendall_property(spark, rows):
    sf_dir = _write_lineitem(rows)
    try:
        # per (flag, day): exact decimal sums
        cells: dict[tuple[str, int], list[Decimal]] = {}
        for flag, q, p, day in rows:
            c = cells.setdefault((flag, day), [Decimal(0), Decimal(0)])
            c[0] += Decimal(repr(q)).quantize(Decimal("0.01"))
            c[1] += Decimal(repr(p)).quantize(Decimal("0.01"))
        expect = {}
        for flag in {f for f, _ in cells}:
            days = sorted(d for f, d in cells if f == flag)
            nd = len(days)
            if nd < 2:
                continue  # no pairs → the p-join drops the flag
            pts = [cells[(flag, d)] for d in days]
            n0 = c = dd = tx = ty = 0
            for i in range(nd):
                for j in range(i + 1, nd):
                    a, b = pts[i], pts[j]
                    n0 += 1
                    if (a[0] < b[0] and a[1] < b[1]) or (
                        a[0] > b[0] and a[1] > b[1]
                    ):
                        c += 1
                    if (a[0] < b[0] and a[1] > b[1]) or (
                        a[0] > b[0] and a[1] < b[1]
                    ):
                        dd += 1
                    if a[0] == b[0]:
                        tx += 1
                    if a[1] == b[1]:
                        ty += 1
            den = math.sqrt((n0 - tx) * 1.0 * (n0 - ty))
            expect[flag] = (nd, n0, c, dd, _safe_div6(float(c - dd), den))

        got = stat_kendall(spark, sf_dir).collect()
        assert len(got) == len(expect)
        for r in got:
            nd, n0, c, dd, tau = expect[r["l_returnflag"]]
            assert (
                r["n_days"],
                r["n_pairs"],
                r["concordant"],
                r["discordant"],
            ) == (nd, n0, c, dd)
            assert _eq(r["tau_b"], tau), (r["l_returnflag"], r["tau_b"], tau)
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
