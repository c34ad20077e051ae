"""NULL-injection and skewed-key fixture sweeps — the eighth and ninth
degenerate-input axes (round 11; verdict items 2 and 4).

NULL axis
=========
The shipped fixtures are non-null by design, so until this sweep the
entire Spark↔DuckDB 3-valued-logic surface was untested. The contract
adjudication (ARCHITECTURE §22): NULL-tolerance IS in the engine
contract for measure and attribute columns — real corpora are full of
missing values — including the FK-shaped ``events.user_id``; it is OUT
of contract for primary keys (ingest enforces key non-nullness;
``dq_constraints`` is the gate), for event-time ``ts`` (watermark
semantics are undefined on null event time), and for the embedding
payload (a vector store requires the vector at ingest).

The fixture plants deterministic NULLs (CASE on the row's key, ~4–9%
per column) into l_quantity, events.value, events.user_id,
o_totalprice, c_acctbal, p_retailprice, documents.lang, and
embeddings.label. The first run found 24 divergent keys in five
classes, all fixed and re-verified oracle-exact on the real fixture:

* NULL ordering in rank windows (Spark ASC default = NULLS FIRST,
  DuckDB = NULLS LAST): win_ntile / win_percent_rank now spell NULLS
  LAST explicitly on both engines.
* Pairwise-complete statistics: agg_stats' manual corr decomposition
  nulled each stddev operand where the partner is null (corr/covar
  built-ins use pairwise deletion); stat_spearman / stat_gini /
  sketch_hist_quantile / ml_regression_stump / ml_gbdt_round2 /
  ml_isotonic filter null measures (a NULL has no rank / bucket /
  threshold side), mirrored in their oracles.
* NULL entity keys: the recursive-fold ts_* family (cusum, decay_sum,
  holt, kalman, holt_seasonal) defines the series as the NON-NULL
  observations of a NON-NULL entity; join_asof_union drops NULL-keyed
  rows because a window PARTITION BY groups NULLs where the oracle's
  join predicate never matches them; stream_topk and ml_knn_label drop
  NULL entities/votes; matview_incremental's distinct-key-set spelling
  now matches count(DISTINCT col)'s null-ignoring semantics.
* Engine-builtin NULL handling in string constructors: DuckDB's
  concat() SKIPS null arguments while Spark's F.concat propagates —
  scalar_hash/scalar_url oracles now use ``||`` (propagating) or CASE
  guards; scalar_ip/scalar_map stopped using concat_ws (which skips
  null parts, malforming the string and tripping ANSI element_at).
* CASE WHEN <null> THEN .. ELSE FALSE collapses NULL to FALSE where a
  bare boolean expression propagates it (scalar_ip's is_private).

Skew axis
=========
90% of rows concentrated onto ONE key per skewable column (user 0,
src0, partkey 0, custkey 0) — the hot-key shape AQE skew handling
exists for. Parity must be invariant to the distribution because every
operator's result is a pure function of the data; the sweep's real
target is tiebreak discipline (a top-k with a nondeterministic
tiebreak passes uniform fixtures by luck and diverges the moment one
key dominates). First run: 0 divergent of 307 — the repo-wide
"deterministic total order at every rank/limit" rule held.
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
def null_dir():
    d = tempfile.mkdtemp(prefix="nullfix_")
    build_fixture(d, "nulls")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def skew_dir():
    d = tempfile.mkdtemp(prefix="skewfix_")
    build_fixture(d, "skew")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_null_injection(spark, null_dir):
    bad = run_keys(spark, null_dir, oracle_builds())
    assert not bad, bad


def test_every_oracle_survives_skewed_keys(spark, skew_dir):
    bad = run_keys(spark, skew_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def nulltext_dir():
    d = tempfile.mkdtemp(prefix="nulltextfix_")
    build_fixture(d, "nulltext")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_null_text(spark, nulltext_dir):
    """Second NULL wave: the document PAYLOAD missing (text and the
    derived n_chars NULL). First run found 20 divergent keys in four
    classes, all fixed and re-verified oracle-exact on the real
    fixture: (a) Python UDFs crash on None — a UDF must spell SQL
    null-propagation itself (udf_python/arrow_scalar/pandas_iter/
    udtf_python/multimodal featurize/pack_ffd); (b) Spark's
    concat_ws-built shingles collapse NULL to '' so every NULL-text
    doc became a spurious near-dup of every other, while the oracle's
    NULL shingle joins nothing — the dedup/decontamination tier now
    consumes the NON-NULL document stream on both engines
    (dedup_minhash/ngram/jaccard_prefix/components, decontaminate,
    quality_decontaminate, quality_source_overlap, pack_ffd); (c)
    n_chars-featured learners and rank statistics filter NULL
    features/observations (ml_dtree_stump/tree_depth2/multifeature,
    quality_drift_ks, stat_mannwhitney); (d) the oracle's empty-list
    coalesce('') must be CASE-guarded to NULL on NULL input
    (scalar_array_setops)."""
    bad = run_keys(spark, nulltext_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def dupheavy_dir():
    d = tempfile.mkdtemp(prefix="dupfix_")
    build_fixture(d, "dupheavy")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_duplicate_heavy_corpus(spark, dupheavy_dir):
    """90% of docs identical — the all-duplicates boundary. First run:
    0 divergent of 307 and no key slower than 20 s — the dedup tier's
    candidate joins stay bounded by the (one) colliding bucket's
    clique, never corpus-n², and every survivor rule is a total order
    (min doc_id), so a half-corpus duplicate group resolves
    deterministically on both engines."""
    bad = run_keys(spark, dupheavy_dir, oracle_builds())
    assert not bad, bad


def test_rows_only_keys_survive_null_injection(spark, null_dir):
    """The rows-only quartet is invisible to the parity sweep — pin it
    executable on the NULL fixture directly."""
    from mapreduce_server_spark import REGISTRY

    keys = sorted(k for k, s in REGISTRY.items() if not s.oracle)
    assert len(keys) == 4, keys
    for k in keys:
        REGISTRY[k].raw_fn(spark, null_dir).collect()


@pytest.fixture(scope="module")
def nullskew_dir():
    d = tempfile.mkdtemp(prefix="nullskewfix_")
    build_fixture(d, "nullskew")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_null_skew_combined(spark, nullskew_dir):
    """Thirteenth axis (round 12): NULL × skew in one fixture. The
    events hot key is NULL itself (90% of user_ids), so every grouped
    plan carries one giant NULL group while every join/stream-join path
    must drop it — the two semantics in the SAME plan, plus the
    round-11 NULL measures riding along on skewed FK tables."""
    bad = run_keys(spark, nullskew_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def nulldup_dir():
    d = tempfile.mkdtemp(prefix="nulldupfix_")
    build_fixture(d, "nulldup")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_null_text_duplicate_combined(spark, nulldup_dir):
    """Fourteenth axis (round 12): NULL-text × duplicate-heavy. NULL
    payloads land inside and outside the 90% duplicate clique — the
    _nonnull_docs filter and the clique-bounded candidate generation
    must hold simultaneously (a NULL row must neither join the clique
    nor form a spurious NULL-clique, the round-11 shingle-collapse
    regression shape)."""
    bad = run_keys(spark, nulldup_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def dst_dir():
    d = tempfile.mkdtemp(prefix="dstfix_")
    build_fixture(d, "dst")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_dst_boundaries(spark, dst_dir):
    """Fifteenth axis (round 12): event timestamps straddling all FOUR
    2024 DST transitions — the US/EU spring-forward gaps (03-10, 03-31)
    and the EU/US fall-back folds (10-27, 11-03). The contract is
    TIMESTAMP_NTZ under a pinned-UTC session (ARCHITECTURE §23): time
    bucketing is civil-time arithmetic with no gap/fold, so hourly
    windows over locally-nonexistent (gap) or locally-ambiguous (fold)
    wall times must bucket identically on both engines — divergence
    here would mean one side went tz-aware."""
    bad = run_keys(spark, dst_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def calendar_dir():
    d = tempfile.mkdtemp(prefix="calfix_")
    build_fixture(d, "calendar")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_calendar_edges(spark, calendar_dir):
    """Twentieth axis (round-13 probe): event timestamps straddling the
    2024 leap day, the non-leap Feb 28 → Mar 1 edge, and both the
    2023→2024 and leap-year 2024→2025 year boundaries. Both engines are
    proleptic-Gregorian and the registry uses calendar-field functions
    (year/month/quarter/date_trunc), so the expected yield was zero —
    this sweep pins that adjudication the way the DST axis pinned
    civil-time arithmetic (probe-before-build, STATUS round-12 queue)."""
    bad = run_keys(spark, calendar_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def jacedge_dir():
    d = tempfile.mkdtemp(prefix="jacedgefix_")
    build_fixture(d, "jacedge")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_jaccard_thresholds_do_not_straddle_engines(spark, jacedge_dir):
    """Adversarial near-threshold fixture: pairs whose exact Jaccard
    equals the 0.5 / 0.3 thresholds as exact rationals (2/4, 3/6, 3/10).
    Both engines compute J as one correctly-rounded double division of
    small integers, so J == the threshold literal's double and `>=`
    must INCLUDE the boundary pair on both sides — if either engine
    computed J another way (different association, float shingle
    counts) the cut would straddle. Oracle parity for every
    jaccard-consuming key, plus explicit inclusion pins so a both-
    engines-exclude regression can't pass as vacuous parity."""
    from mapreduce_server_spark import REGISTRY, jobs
    from mapreduce_server_spark.sources.loader import Tables

    bad = run_keys(spark, jacedge_dir, {
        k: REGISTRY[k].raw_fn
        for k in ("dedup_ngram_jaccard", "dedup_jaccard_prefix",
                  "dedup_minhash", "dedup_levenshtein", "dedup_components")
    })
    assert not bad, bad

    # boundary inclusion at 0.5: (1,2) J=2/4 and (5,6) J=3/6 are AT the
    # cut and must be in; (7,8) J=0.4 must be out; (11,12) J=0.8 above
    got = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_ngram_jaccard"].raw_fn(spark, jacedge_dir).collect()
    }
    assert got == {(1, 2), (5, 6), (11, 12)}, got

    # boundary inclusion at 0.3 (the levenshtein candidate block):
    # (3,4) J=3/10 is AT the cut and must be in; (9,10) J=2/7 out
    d = Tables(spark, jacedge_dir).documents
    cand = {
        (r["id_a"], r["id_b"])
        for r in jobs.near_dedup_jaccard(d, "doc_id", "text", threshold=0.3).collect()
    }
    assert cand == {(1, 2), (3, 4), (5, 6), (7, 8), (11, 12)}, cand

    # minhash banding pin (round-13 mutation audit M13): (11,12) sits
    # AT the 0.8 verify cut (J = 8/10 exactly) and its signatures were
    # SEARCHED to collide in a band under the committed 'mh' salt while
    # colliding in NO band under a counterfactual salt — its presence
    # proves the banding stage (not just the verify) found the pair, so
    # an LSH salt/banding regression cannot pass as vacuous parity.
    mh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in REGISTRY["dedup_minhash"].raw_fn(spark, jacedge_dir).collect()
    }
    assert mh.get((11, 12)) == 0.8, mh


@pytest.fixture(scope="module")
def negative_dir():
    d = tempfile.mkdtemp(prefix="negfix_")
    build_fixture(d, "negative")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_negative_measures(spark, negative_dir):
    """Sixteenth axis (round 12): sign-flipped measure stripes — a
    refund/correction row is a normal row in a 100 TB ledger. First run
    found TWO divergences of the worst class (oracle ERRORS): DuckDB
    ln/sqrt THROW on negative input where Spark's F.log returns NULL,
    F.sqrt returns NaN and numpy log1p NaN-pollutes with a warning.
    Both fixed by spelling the domain contract explicitly on both
    engines (out-of-domain → NULL: scalar_math's ln/log10/sqrt guards,
    udf_pandas_scalar's lane mask + oracle CASE), re-verified
    oracle-exact on the real fixture."""
    bad = run_keys(spark, negative_dir, oracle_builds())
    assert not bad, bad
