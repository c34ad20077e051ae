"""Property-based testing for the dedup/similarity tier (round-8 verdict
item 4): hypothesis-generated micro-corpora with planted duplicates,
driven through the REAL operators (a synthetic ``documents.parquet`` per
example), checked against independent pure-Python replays.

Why this layer: the fixture parity gate proves the operators on ONE
corpus; banding/prefix boundary bugs (a prefix one-off, a band-slice
off-by-one, a threshold `>=` vs `>`) can pass a fixed fixture forever.
Random corpora with heavy token collisions hit those boundaries.

All three properties are DETERMINISTIC (no LSH luck involved):
- prefix-filter Jaccard ≡ full inverted-index Jaccard (same t=0.5);
- dedup_minhash ≡ a pure-Python replay of the identical md5-derived
  pipeline (signatures → bands → candidates → exact verify), which
  also certifies output ⊆ {true J ≥ 0.8} and ⊇ {equal shingle sets}
  (equal sets ⇒ equal signatures ⇒ shared buckets ⇒ candidate);
- dedup_exact ≡ a min-doc_id survivor replay.

Float discipline: jaccard is rounded 6 dp HALF_UP in both engines —
the replay uses Decimal quantize, never Python round() (half-even; the
round-7 trap in STATUS.md)."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce_server_spark.operators.dedup import (
    N_BANDS,
    N_HASHES,
    dedup_exact,
    dedup_jaccard_prefix,
    dedup_minhash,
    dedup_ngram_jaccard,
)

from .conftest import round6

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

#: base docs (token lists) + duplicate directives: (src_idx, n_drop)
#: appends a copy of doc src_idx with its last n_drop tokens removed —
#: n_drop=0 plants an exact duplicate, small n_drop plants a near-dup
#: that straddles the 0.5/0.8 thresholds.
CORPUS = st.tuples(
    st.lists(
        st.lists(st.sampled_from(VOCAB), min_size=1, max_size=10),
        min_size=1,
        max_size=8,
    ),
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 2)),
        min_size=0,
        max_size=4,
    ),
)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _docs(corpus) -> list[list[str]]:
    base, dups = corpus
    docs = list(base)
    for src, n_drop in dups:
        toks = base[src % len(base)]
        docs.append(toks[: max(1, len(toks) - n_drop)])
    return docs


def _write_fixture(docs: list[list[str]]) -> str:
    """Materialize a documents.parquet with the fixture schema; returns
    the sf_dir (caller removes)."""
    d = tempfile.mkdtemp(prefix="prop_dedup_")
    texts = [" ".join(t) for t in docs]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(docs)), dtype="int64"),
            "text": texts,
            "lang": ["en"] * len(docs),
            "source": [f"src{i % 20}" for i in range(len(docs))],
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), os.path.join(d, "documents.parquet"))
    return d


def _shingles(toks: list[str], k: int = 3) -> set[str]:
    """Replay of functions.tokens.shingles: k-word shingles, distinct;
    docs shorter than k yield their whole text as the one shingle."""
    n = len(toks)
    return {" ".join(toks[i : i + k]) for i in range(max(n - (k - 1), 1))}


def _jac(a: set[str], b: set[str]) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _mh(s: int, shingle: str) -> int:
    return int(hashlib.md5(f"mh{s}:{shingle}".encode()).hexdigest()[:8], 16)


def _minhash_replay(docs: list[list[str]]) -> set[tuple[int, int, float]]:
    """Pure-Python replay of the full dedup_minhash pipeline."""
    sh = {i: _shingles(t) for i, t in enumerate(docs)}
    sig = {
        i: [min(_mh(s, g) for g in shs) for s in range(N_HASHES)]
        for i, shs in sh.items()
    }
    rows = N_HASHES // N_BANDS
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, sg in sig.items():
        for b in range(N_BANDS):
            key = (b, ",".join(str(v) for v in sg[b * rows : (b + 1) * rows]))
            buckets.setdefault(key, []).append(i)
    cand = {
        (a, b)
        for members in buckets.values()
        for a in members
        for b in members
        if a < b
    }
    return {
        (a, b, round6(j))
        for a, b in cand
        if (j := _jac(sh[a], sh[b])) >= 0.8
    }


def _collect_pairs(df) -> set[tuple[int, int, float]]:
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


@SETTINGS
@given(corpus=CORPUS)
def test_prefix_filter_equals_full_jaccard(spark, corpus):
    """AllPairs prefix+length filtering is lossless: dedup_jaccard_prefix
    must emit exactly dedup_ngram_jaccard's pair set on any corpus."""
    docs = _docs(corpus)
    d = _write_fixture(docs)
    try:
        full = _collect_pairs(dedup_ngram_jaccard(spark, d))
        pruned = _collect_pairs(dedup_jaccard_prefix(spark, d))
        assert pruned == full
    finally:
        shutil.rmtree(d, ignore_errors=True)


@SETTINGS
@given(corpus=CORPUS)
def test_minhash_matches_pure_python_replay(spark, corpus):
    """dedup_minhash ≡ the independent replay; and two pipeline
    guarantees fall out: no emitted pair below true J=0.8, and every
    equal-shingle-set pair (J=1) is recalled."""
    docs = _docs(corpus)
    d = _write_fixture(docs)
    try:
        got = _collect_pairs(dedup_minhash(spark, d))
        want = _minhash_replay(docs)
        assert got == want
        sh = {i: _shingles(t) for i, t in enumerate(docs)}
        for a, b, j in got:
            assert round6(_jac(sh[a], sh[b])) == j >= 0.8
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                if sh[a] == sh[b]:
                    assert (a, b, 1.0) in got
    finally:
        shutil.rmtree(d, ignore_errors=True)


@SETTINGS
@given(corpus=CORPUS)
def test_exact_dedup_survivors_replay(spark, corpus):
    """dedup_exact keeps the min-doc_id row per text with the right
    duplicate count, on any corpus including all-identical texts."""
    docs = _docs(corpus)
    d = _write_fixture(docs)
    try:
        got = {
            (r.doc_id, r.n_copies) for r in dedup_exact(spark, d).collect()
        }
        groups: dict[str, list[int]] = {}
        for i, t in enumerate(docs):
            groups.setdefault(" ".join(t), []).append(i)
        want = {(min(ids), len(ids)) for ids in groups.values()}
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)
