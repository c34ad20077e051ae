"""Property-based testing for the round-9 tier: hypothesis-generated
micro-fixtures driven through the REAL operators (a synthetic parquet
per example), checked against independent pure-Python replays.

Boundary classes these corpora hit that the committed fixture cannot:
- quality_kanon: class sizes EXACTLY k, nations whose small classes sum
  to exactly k, sensitive values sitting on the band edges (0, 5000);
- sample_kcenter: duplicate vectors (all-zero distances → the
  excluded-ids/vec_id tie rules decide), tiny corpora just above K;
- scan_zonemap: shipdates exactly ON the predicate bounds (>= lo vs
  < hi off-by-ones) and single-row files where zmin = zmax;
- sample_dsir: corpora with NO target-language docs (nt = 0 smoothing
  path), single-token docs (no features → weight 0 via the left join),
  and heavy bucket collisions from a 4-word vocab.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import shutil
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce_server_spark.operators.curation import (
    K_CENTERS,
    sample_dsir,
    sample_kcenter,
)
from mapreduce_server_spark.operators.quality import KANON_K, quality_kanon
from mapreduce_server_spark.operators.sources_ops import scan_zonemap

from .conftest import round6

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _tmpdir(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix)


# --- quality_kanon ---------------------------------------------------------

KANON_ROWS = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.sampled_from(["A", "B"]),
        st.sampled_from([-100.0, 0.0, 4999.0, 5000.0, 9000.0]),
    ),
    min_size=1,
    max_size=40,
)


def _write_customer(rows) -> str:
    d = _tmpdir("prop_kanon_")
    pdf = pd.DataFrame(
        {
            "c_custkey": pd.array(range(len(rows)), dtype="int64"),
            "c_name": [f"c{i}" for i in range(len(rows))],
            "c_nationkey": pd.array([r[0] for r in rows], dtype="int32"),
            "c_acctbal": [r[2] for r in rows],
            "c_mktsegment": [r[1] for r in rows],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), os.path.join(d, "customer.parquet"))
    return d


@given(KANON_ROWS)
@SETTINGS
def test_quality_kanon_property(spark, rows):
    sf_dir = _write_customer(rows)
    try:
        def band(bal):
            return "neg" if bal < 0 else ("mid" if bal < 5000 else "high")

        n0: dict[tuple[int, str], int] = {}
        for nk, seg, _ in rows:
            n0[(nk, seg)] = n0.get((nk, seg), 0) + 1
        n1: dict[int, int] = {}
        for (nk, _), n in n0.items():
            if n < KANON_K:
                n1[nk] = n1.get(nk, 0) + n
        classes: dict[tuple[int, str, int], list[str]] = {}
        for nk, seg, bal in rows:
            if n0[(nk, seg)] >= KANON_K:
                key = (nk, seg, 0)
            elif n1.get(nk, 0) >= KANON_K:
                key = (nk, "*", 1)
            else:
                key = (-1, "*", 2)
            classes.setdefault(key, []).append(band(bal))
        expect = {
            k: (len(v), len(set(v))) for k, v in classes.items()
        }

        got = quality_kanon(spark, sf_dir).collect()
        assert {
            (r["nationkey"], r["segment"], r["gen_level"]): (
                r["class_size"],
                r["l_div"],
            )
            for r in got
        } == expect
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)


# --- sample_kcenter --------------------------------------------------------

KC_VECS = st.lists(
    st.lists(
        st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0]), min_size=4, max_size=4
    ),
    min_size=K_CENTERS + 1,
    max_size=12,
)


def _write_embeddings(vecs) -> str:
    d = _tmpdir("prop_kcenter_")
    t = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in range(len(vecs))], type=pa.int32()),
        }
    )
    pq.write_table(t, os.path.join(d, "embeddings.parquet"))
    return d


def _d2(a, b) -> int:
    acc = 0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


@given(KC_VECS)
@SETTINGS
def test_sample_kcenter_property(spark, vecs):
    sf_dir = _write_embeddings(vecs)
    try:
        embs = [
            (i, [math.floor(float(x) * 1e6 + 0.5) for x in v])
            for i, v in enumerate(vecs)
        ]
        centers = [embs[0]]
        for _ in range(K_CENTERS - 1):
            sel = {vid for vid, _ in centers}
            best = None
            for vid, vi in embs:
                if vid in sel:
                    continue
                d = min(_d2(vi, c) for _, c in centers)
                if best is None or (-d, vid) < best:
                    best = (-d, vid)
            bvid = best[1]
            centers.append(embs[bvid])
        stats: dict[int, list[int]] = {}
        for vid, vi in embs:
            dists = [_d2(vi, c) for _, c in centers]
            dmin = min(dists)
            stats.setdefault(dists.index(dmin), []).append(dmin)

        got = sample_kcenter(spark, sf_dir).collect()
        # only POPULATED cells appear (a duplicate-heavy corpus can tie
        # every vector to rank 0, leaving later centers memberless on
        # both engines — the group-by drops them)
        assert [r["center_rank"] for r in got] == sorted(stats)
        for r in got:
            mem = stats[r["center_rank"]]
            assert r["center_vec_id"] == centers[r["center_rank"]][0]
            assert (r["n_members"], r["radius_d2"]) == (len(mem), max(mem))
        assert sum(r["n_members"] for r in got) == len(embs)
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)


# --- scan_zonemap ----------------------------------------------------------

ZM_BASE = datetime.datetime(1996, 6, 1)
ZM_LO = datetime.datetime(1997, 1, 1)
ZM_HI = datetime.datetime(1997, 7, 1)

ZM_ROWS = st.lists(
    st.tuples(
        st.integers(0, 9000),
        # day offsets straddling both predicate bounds, including the
        # exact boundary instants (214 → 1997-01-01, 395 → 1997-07-01)
        st.one_of(
            st.integers(0, 500), st.sampled_from([213, 214, 394, 395])
        ),
    ),
    min_size=1,
    max_size=40,
)


def _write_lineitem(rows) -> str:
    d = _tmpdir("prop_zonemap_")
    dates = [ZM_BASE + datetime.timedelta(days=off) for _, off in rows]
    t = pa.table(
        {
            "l_orderkey": pa.array([ok for ok, _ in rows], type=pa.int64()),
            "l_shipdate": pa.array(dates, type=pa.timestamp("us")),
        }
    )
    pq.write_table(t, os.path.join(d, "lineitem.parquet"))
    return d


@given(ZM_ROWS)
@SETTINGS
def test_scan_zonemap_property(spark, rows):
    sf_dir = _write_lineitem(rows)
    try:
        zones: dict[tuple[str, int], list] = {}
        for ok, off in rows:
            sd = ZM_BASE + datetime.timedelta(days=off)
            for layout, fid in (
                ("orderkey", ok // 4096),
                ("monthly", (sd.year - 1995) * 12 + sd.month - 1),
            ):
                z = zones.setdefault((layout, fid), [sd, sd, 0, 0])
                z[0] = min(z[0], sd)
                z[1] = max(z[1], sd)
                z[2] += 1
                z[3] += 1 if ZM_LO <= sd < ZM_HI else 0
        expect: dict[tuple[str, str], list[int]] = {}
        for (layout, _fid), (zmin, zmax, n, nm) in zones.items():
            if zmax < ZM_LO or zmin >= ZM_HI:
                cls = "skipped"
            elif zmin >= ZM_LO and zmax < ZM_HI:
                cls = "full"
            else:
                cls = "partial"
            e = expect.setdefault((layout, cls), [0, 0, 0])
            e[0] += 1
            e[1] += n
            e[2] += nm

        got = scan_zonemap(spark, sf_dir).collect()
        assert {
            (r["layout"], r["zone_class"]): [
                r["n_files"],
                r["n_rows"],
                r["n_rows_matching"],
            ]
            for r in got
        } == expect
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)


# --- sample_dsir -----------------------------------------------------------

DSIR_VOCAB = ["aa", "bb", "cc", "dd"]

DSIR_DOCS = st.lists(
    st.tuples(
        st.lists(st.sampled_from(DSIR_VOCAB), min_size=1, max_size=6),
        st.sampled_from(["en", "de"]),
    ),
    min_size=1,
    max_size=8,
)


def _write_documents(docs) -> str:
    d = _tmpdir("prop_dsir_")
    texts = [" ".join(t) for t, _ in docs]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(docs)), dtype="int64"),
            "text": texts,
            "lang": [lang for _, lang in docs],
            "source": [f"src{i % 20}" for i in range(len(docs))],
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), os.path.join(d, "documents.parquet"))
    return d


def _dsir_bucket(bg: str) -> int:
    return int(hashlib.md5(f"dsir:{bg}".encode()).hexdigest()[:8], 16) % 64


@given(DSIR_DOCS)
@SETTINGS
def test_sample_dsir_property(spark, docs):
    sf_dir = _write_documents(docs)
    try:
        f: dict[int, dict[int, int]] = {}
        for i, (toks, _lang) in enumerate(docs):
            for j in range(len(toks) - 1):
                b = _dsir_bucket(toks[j] + " " + toks[j + 1])
                f.setdefault(i, {})[b] = f.get(i, {}).get(b, 0) + 1
        ct = [0] * 64
        cr = [0] * 64
        for i, buckets in f.items():
            for b, c in buckets.items():
                cr[b] += c
                if docs[i][1] == "en":
                    ct[b] += c
        nt, nr = sum(ct), sum(cr)
        lam = [
            math.log((ct[b] + 1) / (nt + 64))
            - math.log((cr[b] + 1) / (nr + 64))
            for b in range(64)
        ]
        w6 = {}
        for i in range(len(docs)):
            acc = 0.0
            for b in sorted(f.get(i, {})):
                acc += float(f[i][b]) * lam[b]
            w6[i] = round6(acc)
        expect = sorted(w6, key=lambda d: (-w6[d], d))[:25]

        got = sample_dsir(spark, sf_dir).collect()
        assert [r["doc_id"] for r in got] == expect
        for r in got:
            assert r["dsir_w"] == w6[r["doc_id"]]
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
