"""Round-9 operator semantics: independent pure-Python replays built
from the raw parquet fixture (ARCHITECTURE §17 — parity alone does not
prove the formula), never from either engine's pipeline.

Float replays follow the repo's fold rules: explicit sequential loops
(never numpy pairwise sums), ``math.sqrt`` (never ``** 0.5``), and
Decimal HALF_UP for the 6-dp rounds — the exact semantics both engines
apply.
"""

from __future__ import annotations

import hashlib
import math

import duckdb

from mapreduce_server_spark.registry import REGISTRY

from .conftest import SF001, round6


def _docs(cols: str = "doc_id, lang, text"):
    con = duckdb.connect()
    return con.execute(
        f"SELECT {cols} FROM '{SF001}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _embs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT vec_id, embedding FROM '{SF001}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()


# --- quality_kanon ---------------------------------------------------------


def test_quality_kanon_full_replay(spark):
    """Exact replay of the generalization lattice walk: level-0 classes
    on (nation, segment), under-k rows merged to (nation, '*'), still
    under-k rows suppressed to (-1, '*'); class sizes and l-diversity
    recomputed from raw customer rows."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT c_nationkey, c_mktsegment, c_acctbal FROM "
        f"'{SF001}/customer.parquet'"
    ).fetchall()
    K = 5

    def band(bal: float) -> str:
        return "neg" if bal < 0 else ("mid" if bal < 5000 else "high")

    n0: dict[tuple[int, str], int] = {}
    for nk, seg, bal in rows:
        n0[(nk, seg)] = n0.get((nk, seg), 0) + 1
    n1: dict[int, int] = {}
    for (nk, seg), n in n0.items():
        if n < K:
            n1[nk] = n1.get(nk, 0) + n

    classes: dict[tuple[int, str, int], list[str]] = {}
    for nk, seg, bal in rows:
        if n0[(nk, seg)] >= K:
            key = (nk, seg, 0)
        elif n1.get(nk, 0) >= K:
            key = (nk, "*", 1)
        else:
            key = (-1, "*", 2)
        classes.setdefault(key, []).append(band(bal))

    expect = {
        key: (len(bands), len(set(bands))) for key, bands in classes.items()
    }
    got = REGISTRY["quality_kanon"].fn(spark, SF001).collect()
    assert len(got) == len(expect)
    for r in got:
        key = (r["nationkey"], r["segment"], r["gen_level"])
        assert expect[key] == (r["class_size"], r["l_div"]), key
    # every released/merged class really is k-anonymous
    for r in got:
        if r["gen_level"] < 2:
            assert r["class_size"] >= K
    # nothing lost: the final classes partition the table
    assert sum(r["class_size"] for r in got) == len(rows)


# --- sample_kcenter --------------------------------------------------------


def _micro_py(vec) -> list[int]:
    return [math.floor(float(x) * 1000000.0 + 0.5) for x in vec]


def _d2(a: list[int], b: list[int]) -> int:
    acc = 0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def test_sample_kcenter_full_replay(spark):
    """Full Gonzalez traversal replayed in pure Python ints: seed =
    lowest vec_id, 4 farthest-point rounds (ties → lowest vec_id,
    selected ids excluded), then nearest-center assignment with
    (distance, rank) tie rule — every output cell must match."""
    embs = [(vid, _micro_py(v)) for vid, v in _embs()]
    K = 5
    centers = [embs[0]]  # lowest vec_id (ORDER BY vec_id)
    for _ in range(K - 1):
        sel = {vid for vid, _ in centers}
        best = None
        for vid, vi in embs:
            if vid in sel:
                continue
            d = min(_d2(vi, c) for _, c in centers)
            cand = (-d, vid)
            if best is None or cand < best:
                best = cand
        bvid = best[1]
        centers.append(next((v, m) for v, m in embs if v == bvid))

    stats: dict[int, list[int]] = {}
    for vid, vi in embs:
        dists = [_d2(vi, c) for _, c in centers]
        dmin = min(dists)
        rk = dists.index(dmin)  # first index = lowest rank tie rule
        stats.setdefault(rk, []).append(dmin)

    got = REGISTRY["sample_kcenter"].fn(spark, SF001).collect()
    assert [r["center_vec_id"] for r in got] == [vid for vid, _ in centers]
    for r in got:
        mem = stats[r["center_rank"]]
        assert r["n_members"] == len(mem)
        assert r["radius_d2"] == max(mem)
    assert sum(r["n_members"] for r in got) == len(embs)
    # farthest-point property: each later center was at least the final
    # covering radius away from all earlier centers at selection time
    max_radius = max(r["radius_d2"] for r in got)
    for i, (_, ci) in enumerate(centers[1:], start=1):
        d_prev = min(_d2(ci, c) for _, c in centers[:i])
        assert d_prev >= max_radius


# --- sample_dsir -----------------------------------------------------------


def _dsir_bucket(bg: str) -> int:
    h = hashlib.md5(f"dsir:{bg}".encode()).hexdigest()[:8]
    return int(h, 16) % 64


def test_sample_dsir_full_replay(spark):
    """Full DSIR replay: hashed-bigram counts, add-1 smoothed log ratio
    per bucket, per-doc sequential fold in bucket order, HALF_UP 6-dp
    round, doc_id-tiebroken top-25."""
    docs = _docs()
    f: dict[int, dict[int, int]] = {}  # doc -> bucket -> cnt
    lang_of: dict[int, str] = {}
    for doc_id, lang, text in docs:
        lang_of[doc_id] = lang
        t = text.split(" ")
        for i in range(len(t) - 1):
            b = _dsir_bucket(t[i] + " " + t[i + 1])
            f.setdefault(doc_id, {})[b] = f.get(doc_id, {}).get(b, 0) + 1

    ct = [0] * 64
    cr = [0] * 64
    for doc_id, buckets in f.items():
        for b, c in buckets.items():
            cr[b] += c
            if lang_of[doc_id] == "en":
                ct[b] += c
    nt, nr = sum(ct), sum(cr)
    lam = [
        math.log((ct[b] + 1) / (nt + 64)) - math.log((cr[b] + 1) / (nr + 64))
        for b in range(64)
    ]

    w6: dict[int, float] = {}
    for doc_id, _lang, _text in docs:
        acc = 0.0
        for b in sorted(f.get(doc_id, {})):
            acc += float(f[doc_id][b]) * lam[b]
        w6[doc_id] = round6(acc)

    expect = sorted(w6, key=lambda d: (-w6[d], d))[:25]
    got = REGISTRY["sample_dsir"].fn(spark, SF001).collect()
    assert [r["doc_id"] for r in got] == expect
    for r in got:
        assert r["dsir_w"] == w6[r["doc_id"]]
        assert r["lang"] == lang_of[r["doc_id"]]
    # the importance weighting actually prefers the target domain: the
    # selected slice is more 'en' than the corpus base rate
    base = sum(1 for d in lang_of.values() if d == "en") / len(lang_of)
    sel = sum(1 for r in got if r["lang"] == "en") / len(got)
    assert sel > base


# --- rank_rrf --------------------------------------------------------------


def _bm25_replay() -> list[int]:
    """Top-20 doc_ids by the engine's exact BM25 spelling (term-ordered
    fold, 6-dp round, doc_id tiebreak) for the query {hash, join, scan}."""
    docs = _docs("doc_id, text")
    terms = ["hash", "join", "scan"]
    dl = {d: len(t.split(" ")) for d, t in docs}
    nd = len(docs)
    avgdl = sum(dl.values()) / nd
    tf: dict[int, dict[str, int]] = {}
    for d, t in docs:
        for w in t.split(" "):
            if w in terms:
                tf.setdefault(d, {})[w] = tf.get(d, {}).get(w, 0) + 1
    df = {q: sum(1 for d in tf if q in tf[d]) for q in terms}
    score: dict[int, float] = {}
    for d, tcounts in tf.items():
        acc = 0.0
        for term in sorted(tcounts):
            t_f = tcounts[term]
            idf = math.log(1 + (nd - df[term] + 0.5) / (df[term] + 0.5))
            acc += (
                idf
                * (t_f * 2.2)
                / (t_f + 1.2 * (1 - 0.75 + 0.75 * dl[d] / avgdl))
            )
        score[d] = round6(acc)
    return sorted(score, key=lambda d: (-score[d], d))[:20]


def _sem_replay() -> list[int]:
    """Top-20 vec_ids by 6-dp-rounded cosine vs the vec_id-0 query —
    sequential-fold dot/norm exactly as both engines spell it."""
    embs = _embs()
    qv = [float(x) for x in next(v for vid, v in embs if vid == 0)]
    qacc = 0.0
    for x in qv:
        qacc += x * x
    qn = math.sqrt(qacc)
    cos: dict[int, float] = {}
    for vid, v in embs:
        if vid == 0:
            continue
        dot = 0.0
        nn = 0.0
        for a, b in zip(v, qv):
            dot += float(a) * float(b)
            nn += float(a) * float(a)
        cos[vid] = round6(dot / (math.sqrt(nn) * qn))
    return sorted(cos, key=lambda d: (-cos[d], d))[:20]


def test_rank_rrf_full_replay(spark):
    """Fuses independently-replayed BM25 and cosine rankings with
    RRF(d) = Σ 1/(60 + rank) and checks the operator's top-10 rows —
    ids, both ranks, and the fused score — cell for cell."""
    lex = {d: i + 1 for i, d in enumerate(_bm25_replay())}
    sem = {d: i + 1 for i, d in enumerate(_sem_replay())}
    fused: dict[int, float] = {}
    for d in set(lex) | set(sem):
        s = 0.0
        if d in lex:
            s += 1.0 / (60 + lex[d])
        if d in sem:
            s += 1.0 / (60 + sem[d])
        fused[d] = round6(s)
    expect = sorted(fused, key=lambda d: (-fused[d], d))[:10]

    got = REGISTRY["rank_rrf"].fn(spark, SF001).collect()
    assert [r["doc_id"] for r in got] == expect
    for r in got:
        assert r["lex_rank"] == lex.get(r["doc_id"], 0)
        assert r["sem_rank"] == sem.get(r["doc_id"], 0)
        assert r["rrf_score"] == fused[r["doc_id"]]
    # fusion is doing real work: at least one fused winner comes from
    # each modality's list
    assert any(r["lex_rank"] > 0 for r in got)
    assert any(r["sem_rank"] > 0 for r in got)


# --- scan_zonemap ----------------------------------------------------------


def test_scan_zonemap_full_replay(spark):
    """Exact replay of both simulated layouts' zone maps and the
    skip/full/partial classification, plus the audit's reason to
    exist: the time-clustered layout must actually skip files while
    the ingest-order layout skips nothing (shipdate ⊥ orderkey)."""
    import datetime

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT l_orderkey, l_shipdate FROM '{SF001}/lineitem.parquet'"
    ).fetchall()
    lo = datetime.datetime(1997, 1, 1)
    hi = datetime.datetime(1997, 7, 1)

    zones: dict[tuple[str, int], list] = {}
    for ok, sd in rows:
        for layout, fid in (
            ("orderkey", ok // 4096),
            ("monthly", (sd.year - 1995) * 12 + sd.month - 1),
        ):
            z = zones.setdefault((layout, fid), [sd, sd, 0, 0])
            z[0] = min(z[0], sd)
            z[1] = max(z[1], sd)
            z[2] += 1
            z[3] += 1 if lo <= sd < hi else 0

    expect: dict[tuple[str, str], list[int]] = {}
    for (layout, _fid), (zmin, zmax, n, nm) in zones.items():
        if zmax < lo or zmin >= hi:
            cls = "skipped"
        elif zmin >= lo and zmax < hi:
            cls = "full"
        else:
            cls = "partial"
        e = expect.setdefault((layout, cls), [0, 0, 0])
        e[0] += 1
        e[1] += n
        e[2] += nm

    got = REGISTRY["scan_zonemap"].fn(spark, SF001).collect()
    assert len(got) == len(expect)
    for r in got:
        e = expect[(r["layout"], r["zone_class"])]
        assert (r["n_files"], r["n_rows"], r["n_rows_matching"]) == tuple(e)
    by = {(r["layout"], r["zone_class"]): r for r in got}
    # ingest-order layout: wide zones, nothing skippable
    assert ("orderkey", "skipped") not in by
    # time-clustered layout: everything outside the window skips, and
    # the window's months are fully-matching files
    assert by[("monthly", "skipped")]["n_rows_matching"] == 0
    assert by[("monthly", "skipped")]["n_files"] > 0
    full = by[("monthly", "full")]
    assert full["n_files"] == 6  # the predicate's six months
    assert full["n_rows"] == full["n_rows_matching"]
    for layout in ("orderkey", "monthly"):
        assert sum(
            r["n_rows"] for r in got if r["layout"] == layout
        ) == len(rows)


# --- rank_ndcg -------------------------------------------------------------


def test_rank_ndcg_full_replay(spark):
    """Replays the graded audit end-to-end from the raw fixture: the
    BM25+cosine fusion (reusing this file's replays), exact-cosine
    grades rel = 11-rank, position-ordered DCG/IDCG folds, 6-dp
    rounds."""
    lex = {d: i + 1 for i, d in enumerate(_bm25_replay())}
    sem = {d: i + 1 for i, d in enumerate(_sem_replay())}
    fused: dict[int, float] = {}
    for d in set(lex) | set(sem):
        s = 0.0
        if d in lex:
            s += 1.0 / (60 + lex[d])
        if d in sem:
            s += 1.0 / (60 + sem[d])
        fused[d] = round6(s)
    audited = sorted(fused, key=lambda d: (-fused[d], d))[:10]
    grades = {d: 11 - (i + 1) for i, d in enumerate(_sem_replay()[:10])}

    dcg = 0.0
    n_overlap = 0
    for pos, d in enumerate(audited, start=1):
        rel = grades.get(d, 0)
        dcg += float(rel) / math.log2(pos + 1)
        n_overlap += 1 if rel > 0 else 0
    idcg = 0.0
    for i in range(1, 11):
        idcg += float(11 - i) / math.log2(i + 1)

    got = REGISTRY["rank_ndcg"].fn(spark, SF001).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_overlap"] == n_overlap
    assert r["dcg"] == round6(dcg)
    assert r["idcg"] == round6(idcg)
    assert r["ndcg"] == round6(dcg / idcg)
    assert 0.0 < r["ndcg"] <= 1.0


# --- knn_filter ------------------------------------------------------------


def test_knn_filter_replay_and_recall(spark):
    """Replays the filtered IVF search from raw parquet: integer
    micro-unit assignment to the trained centroids (only the trained
    centroid list is shared with the operator — the test_round8
    knn_semdedup rule), widened 8-cell probe, label predicate inside
    the candidate set, exact cosine fold — every output row must
    match. Then gates recall@10 vs the EXACT filtered ground truth at
    ≥ 0.6 (measured 0.9 on this fixture; the widened probe is doing
    its job)."""
    from mapreduce_server_spark.operators.similarity import (
        FILTER_LABELS,
        FILTER_NPROBE,
        _ivf_centroids,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, label, embedding FROM '{SF001}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    cents = _ivf_centroids(spark, SF001)

    qv = [float(x) for x in next(v for vid, _l, v in rows if vid == 0)]
    qi = _micro_py(qv)
    probes = sorted(
        range(len(cents)), key=lambda k: (_d2(qi, cents[k]), k)
    )[:FILTER_NPROBE]

    qacc = 0.0
    for x in qv:
        qacc += x * x
    qn = math.sqrt(qacc)

    cand: dict[int, tuple[int, float]] = {}
    filtered_exact: dict[int, float] = {}
    for vid, lab, v in rows:
        if vid == 0:
            continue
        vi = _micro_py(v)
        dists = [_d2(vi, c) for c in cents]
        cell = dists.index(min(dists))
        dot = 0.0
        nn = 0.0
        for a, b in zip(v, qv):
            dot += float(a) * float(b)
            nn += float(a) * float(a)
        cs = round6(dot / (math.sqrt(nn) * qn))
        if lab in FILTER_LABELS:
            filtered_exact[vid] = cs
            if cell in probes:
                cand[vid] = (cell, cs)

    expect = sorted(cand, key=lambda d: (-cand[d][1], d))[:10]
    got = REGISTRY["knn_filter"].fn(spark, SF001).collect()
    assert [r["vec_id"] for r in got] == expect
    for r in got:
        assert r["label"] in FILTER_LABELS
        assert (r["cluster"], r["cos_sim"]) == cand[r["vec_id"]]

    truth = sorted(
        filtered_exact, key=lambda d: (-filtered_exact[d], d)
    )[:10]
    recall = len(set(expect) & set(truth)) / 10
    assert recall >= 0.6
