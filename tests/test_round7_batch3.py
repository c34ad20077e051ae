"""Independent replays for round-7 batch 3 (knn_mmr,
quality_blocklist, stat_friedman, ts_holt_winters) — pure
Python/numpy from raw parquet, mirroring each operator's pinned
roundings, never its Spark/SQL algebra."""

from __future__ import annotations

import duckdb
import numpy as np

from mapreduce_server_spark.operators.quality import (
    BLOCKLIST,
    BLOCKLIST_MAX_HITS,
)
from mapreduce_server_spark.operators.similarity import (
    MMR_CAND,
    MMR_K,
    MMR_LAMBDA,
    QUERY_VEC_ID,
)
from mapreduce_server_spark.registry import REGISTRY

from .conftest import SF001, round6


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _cos(a, b):
    import math

    return round6(
        _fold_dot(a, b) / (math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b)))
    )


def test_mmr_matches_pure_python_greedy(spark):
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF001}/embeddings.parquet'"
    ).fetchall()
    vecs = {r[0]: r[1] for r in rows}
    q = vecs[QUERY_VEC_ID]
    rel = {
        v: _cos(emb, q) for v, emb in vecs.items() if v != QUERY_VEC_ID
    }
    cand = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_CAND]
    sims = {
        (a, b): _cos(vecs[a], vecs[b]) for a in cand for b in cand if a != b
    }
    selected = [max(cand, key=lambda v: (rel[v], -v))]
    picks = {selected[0]: (1, rel[selected[0]])}
    for i in range(2, MMR_K + 1):
        rest = [c for c in cand if c not in selected]
        scores = {
            c: round6(
                MMR_LAMBDA * rel[c]
                - (1 - MMR_LAMBDA) * max(sims[(c, s)] for s in selected)
            )
            for c in rest
        }
        nxt = max(rest, key=lambda c: (scores[c], -c))
        picks[nxt] = (i, scores[nxt])
        selected.append(nxt)
    got = {r["vec_id"]: r for r in REGISTRY["knn_mmr"].fn(spark, SF001).collect()}
    assert set(got) == set(picks)
    for v, (pick, mmr) in picks.items():
        assert got[v]["pick"] == pick, v
        assert abs(got[v]["mmr"] - mmr) < 1e-9, v
        assert abs(got[v]["rel"] - rel[v]) < 1e-9, v
    # diversification really engaged: MMR order differs from pure
    # relevance order OR every later mmr score < its rel (penalty > 0)
    later = [v for v in picks if picks[v][0] >= 2]
    assert all(picks[v][1] <= rel[v] for v in later)


def test_blocklist_matches_pure_python(spark):
    docs = duckdb.sql(
        f"SELECT source, text FROM '{SF001}/documents.parquet'"
    ).fetchall()
    agg: dict[str, list[int]] = {}
    for src, text in docs:
        hits = sum(1 for t in text.split(" ") if t in BLOCKLIST)
        a = agg.setdefault(src, [0, 0, 0, 0])
        a[0] += 1
        a[1] += 1 if hits > BLOCKLIST_MAX_HITS else 0
        a[2] += hits
        a[3] = max(a[3], hits)
    got = {
        r["source"]: r
        for r in REGISTRY["quality_blocklist"].fn(spark, SF001).collect()
    }
    assert set(got) == set(agg)
    for src, (nd, ndrop, tot, mx) in agg.items():
        r = got[src]
        assert (r["n_docs"], r["n_dropped"], r["total_hits"], r["max_hits"]) == (
            nd,
            ndrop,
            tot,
            mx,
        ), src
    # the gate is non-vacuous on the fixture
    assert sum(a[2] for a in agg.values()) > 0


def test_friedman_matches_pure_python(spark):
    cells = duckdb.sql(
        f"""
        SELECT date_trunc('day', ts) AS d, event_type,
               sum(value::DECIMAL(18,2)) AS s
        FROM '{SF001}/events.parquet' GROUP BY 1, 2
        """
    ).fetchall()
    by_day: dict = {}
    for d, t, s in cells:
        by_day.setdefault(d, []).append((t, s))
    r2sum: dict[str, int] = {}
    n_days = len(by_day)
    for d, items in by_day.items():
        vals = sorted(s for _, s in items)
        for t, s in items:
            lo = sum(1 for v in vals if v < s)
            ties = sum(1 for v in vals if v == s)
            r2sum[t] = r2sum.get(t, 0) + 2 * (lo + 1) + ties - 1
    k = len(r2sum)
    ss = sum((r - n_days * (k + 1)) ** 2 for r in r2sum.values())
    q = 3.0 * ss / (n_days * k * (k + 1))
    row = REGISTRY["stat_friedman"].fn(spark, SF001).collect()[0]
    assert row["n_blocks"] == n_days and row["k"] == k
    assert abs(row["q_stat"] - q) < 1e-6
    assert row["reject_equal"] == (q > 9.488)


def test_holt_winters_matches_numpy(spark):
    hours = duckdb.sql(
        f"""
        SELECT date_trunc('hour', ts) AS h, count(*) AS n
        FROM '{SF001}/events.parquet' GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    h0, h1 = hours[0][0], hours[-1][0]
    n_slots = int((h1 - h0).total_seconds() // 3600) + 1
    x = np.zeros(n_slots)
    for h, n in hours:
        x[int((h - h0).total_seconds() // 3600)] = n
    m = 24
    l = x[:m].sum() / 24.0
    b = 0.0
    seas = list(x[:m] - l)
    for t in range(m, len(x)):
        sm = seas.pop(0)
        lnew = (x[t] - sm) * 0.5 + (l + b) * 0.5
        bnew = (lnew - l) * 0.5 + b * 0.5
        snew = (x[t] - lnew) * 0.5 + sm * 0.5
        l, b = lnew, bnew
        seas.append(snew)
    row = REGISTRY["ts_holt_winters"].fn(spark, SF001).collect()[0]
    assert row["n_hours"] == len(x)
    assert abs(row["level_last"] - l) < 1e-9
    assert abs(row["trend_last"] - b) < 1e-9
    for i, col in enumerate(["forecast_1h", "forecast_2h", "forecast_3h"], 1):
        assert abs(row[col] - (l + i * b + seas[i - 1])) < 1e-9, col
    # seasonality is real on this fixture: the season vector is not flat
    assert max(seas) - min(seas) > 0
