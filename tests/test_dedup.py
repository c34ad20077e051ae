"""Dedup operators vs the planted sf0.1 fixture: 5000 docs, 4992 distinct
texts → 8 exact duplicate pairs (FIXTURES.md). The MinHash/SimHash paths
have no SQL oracle, so this is their correctness gate."""

from __future__ import annotations

import duckdb
import pytest

from mapreduce_server_spark import REGISTRY

from .conftest import SF01


@pytest.fixture(scope="module")
def planted_pairs():
    """(min_doc_id, max_doc_id) per duplicated text at sf0.1, from DuckDB."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT min(doc_id), max(doc_id), count(*)
        FROM read_parquet('{SF01}/documents.parquet')
        GROUP BY text HAVING count(*) > 1
        """
    ).fetchall()
    assert all(n == 2 for _, _, n in rows), "fixture: each dup text has 2 copies"
    return {(a, b) for a, b, _ in rows}


def test_fixture_has_8_planted_dups(planted_pairs):
    assert len(planted_pairs) == 8


def test_dedup_exact_sf01(spark, planted_pairs):
    rows = REGISTRY["dedup_exact"].fn(spark, SF01).collect()
    assert len(rows) == 4992
    survivors_with_copies = {r.doc_id for r in rows if r.n_copies == 2}
    assert survivors_with_copies == {a for a, _ in planted_pairs}


def test_dedup_minhash_finds_planted_pairs(spark, planted_pairs):
    rows = REGISTRY["dedup_minhash"].fn(spark, SF01).collect()
    found = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    for pair in planted_pairs:
        assert pair in found, f"planted duplicate pair {pair} missed"
        assert found[pair] == 1.0


def test_dedup_simhash_identical_for_dups(spark, planted_pairs):
    rows = REGISTRY["dedup_simhash"].fn(spark, SF01).collect()
    sim = {r.doc_id: r.simhash for r in rows}
    assert len(sim) == 5000
    for a, b in planted_pairs:
        assert sim[a] == sim[b]


def test_dedup_exact_hash_matches_exact(spark):
    n_hash = REGISTRY["dedup_exact_hash"].fn(spark, SF01).count()
    assert n_hash == 4992


def test_dedup_components_folds_planted_pairs(spark, planted_pairs):
    """Every planted duplicate pair lands in one shared component (the
    component may be larger than the pair — near-dup jaccard edges can
    chain additional docs in), and the non-minimal member never survives."""
    rows = REGISTRY["dedup_components"].fn(spark, SF01).collect()
    comp = {r.doc_id: r.component_id for r in rows}
    canon = {r.doc_id for r in rows if r.is_canonical}
    for a, b in planted_pairs:
        assert comp[a] == comp[b] <= min(a, b)
        assert max(a, b) not in canon


def test_dedup_components_partition_properties(spark):
    """Component ids are a valid partition: every component id is a member
    of its own component (min-label fixpoint reached), and canonical rows
    are exactly one per component."""
    rows = REGISTRY["dedup_components"].fn(spark, SF01).collect()
    comp = {r.doc_id: r.component_id for r in rows}
    assert all(comp[c] == c for c in set(comp.values()))
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r)
    for cid, members in by_comp.items():
        assert sum(1 for m in members if m.is_canonical) == 1
        assert cid == min(m.doc_id for m in members)


def test_dedup_levenshtein_finds_planted_pairs_at_zero_distance(spark, planted_pairs):
    rows = REGISTRY["dedup_levenshtein"].fn(spark, SF01).collect()
    found = {(r.doc_a, r.doc_b): r.edit_dist for r in rows}
    for pair in planted_pairs:
        assert found.get(pair) == 0  # exact copies → edit distance 0


def test_jaccard_prefix_equals_full_join_and_prunes(spark):
    """Prefix filtering is a pure candidate-pruning rewrite: identical
    pairs to the full inverted-index join, from a measurably smaller
    index (≤ ~(1−t)+1/n of postings at t=0.5)."""
    from pyspark.sql import functions as F

    from mapreduce_server_spark.functions.tokens import shingles
    from mapreduce_server_spark.sources.loader import Tables

    full = sorted(
        map(tuple, REGISTRY["dedup_ngram_jaccard"].fn(spark, SF01).collect())
    )
    pref = sorted(
        map(tuple, REGISTRY["dedup_jaccard_prefix"].fn(spark, SF01).collect())
    )
    assert pref == full and len(pref) > 0

    d = Tables(spark, SF01).documents
    n_postings = d.select(F.explode(shingles()).alias("s")).count()
    n_docs = d.count()
    sh = d.select("doc_id", F.explode(shingles()).alias("shingle"))
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    ranked = sh.join(dfc, "shingle").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")),
    ).withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    n_prefix = ranked.where(
        F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(0.5) * F.col("n_sh")) + 1
    ).count()
    # t=0.5 keeps n−⌈n/2⌉+1 ≈ half the postings (+1 per doc)
    assert n_prefix <= 0.5 * n_postings + n_docs
