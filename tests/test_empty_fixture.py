"""Empty (0-row) and single-row fixture sweeps: EVERY oracle key must
stay Spark≡DuckDB when tables are emptied or reduced to one row.

Fourth and fifth axes of the degenerate-input gate (after the 12-hour /
truncated-rows sweeps in test_shrunken_fixture.py and the
constant-column sweep in test_flat_fixture.py): truncations shrink
GROUPS and flattening zeroes VARIANCES, but only 0-row/1-row tables
exercise empty-input folds (``list_sum`` on empty lists vs ``fsum`` on
empty arrays), global aggregates over zero rows (both engines emit one
all-NULL row — but only if the Spark side doesn't crash first), window
ops over single rows, driver-side bounded collects that assume a seed
row exists (k-center's Gonzalez argmax, IVF quantizer training), and
``head``-style admission logic. At 100 TB these are not edge cases:
a predicate or a partition filter can empty ANY intermediate frame.

A third axis rides along: BLANK document text (every row kept, text =
''), the degenerate tokenization input — ``string_split('')`` yields
[''], shingle/n-gram windows clamp to a single empty window, and
byte-level featurizers see zero-length payloads (found the
multimodal_features first_byte sentinel divergence: the featurizer's
documented -1 vs DuckDB's bare ascii('') = 0).

And a fourth: NON-ASCII text (accents, CJK, an astral-plane emoji
prefixed deterministically per doc) — the normal case at 100 TB, and
the byte-vs-codepoint fault line. It found the multimodal byte
features spelled char-level in their oracles (length(text) vs
octet_length(encode(text)); ascii() vs the first UTF-8 byte), and one
genuine ENGINE-BUILTIN difference: DuckDB's levenshtein() is
BYTE-based while Spark's is CHARACTER-based (levenshtein('café x',
'cafe x') = 2 vs 1). The engine's semantics are Spark's char-level
(the right metric for text); dedup_levenshtein is therefore excluded
from exact parity on THIS fixture only and pinned by the provable
relationship instead (char dist ≤ byte dist ⇒ duck's result set ⊆
spark's, equal dists on ASCII pairs — see
test_unicode_levenshtein_relationship).

Fixture construction (pure projections of the committed sf0.001
fixture — deterministic, no synthesis, schema preserved exactly by
``WHERE false`` / keyed ``ORDER BY … LIMIT 1`` / REPLACE-projection):
  * empty:      every table ``WHERE false``           (0 rows, same schema)
  * single-row: every table ``ORDER BY <pk> LIMIT 1`` (lowest-key row)
  * blank-text: documents text = '' / n_chars = 0, other tables verbatim

``build_fixture`` builds every axis fixture of the sweeps and of
tools/mutation_audit.py; each sweep runs its keys through
``parity.run_keys``.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pytest

from mapreduce_server_spark import REGISTRY
from mapreduce_server_spark.sources.loader import TABLE_NAMES

from .conftest import SF0001, make_duck
from .parity import run_keys

#: full-registry parity sweeps are the FULL lane (`pytest` / CI); the
#: inner-loop lane skips them: `pytest -m 'not sweep'` (~10 min).
pytestmark = pytest.mark.sweep

# Deterministic per-table primary key for the single-row selection.
_PK = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey, l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _scaled(mul: str, quantize: bool = False) -> dict[str, str]:
    """Every money/quantity measure × ``mul``, re-quantized to 2 dp with ``quantize``."""
    rq = "round({c} * %s, 2)::DOUBLE AS {c}" if quantize else "({c} * %s)::DOUBLE AS {c}"
    cols = {"lineitem": ("l_quantity", "l_extendedprice"), "events": ("value",),
            "customer": ("c_acctbal",), "orders": ("o_totalprice",),
            "part": ("p_retailprice",)}
    return {t: ", ".join((rq % mul).format(c=c) for c in cs) for t, cs in cols.items()}


_UNICODE_PREFIX = ("CASE doc_id % 3 WHEN 0 THEN 'café ' WHEN 1 THEN '数据处理 ' "
                   "ELSE '🚀préfix ' END || text")
_DUP_TEXT = "the quick brown fox jumps over the lazy dog again and again"
_LINE = "(l_orderkey * 31 + l_linenumber)"


def _events_ts(starts: tuple[str, str, str, str]) -> dict[str, str]:
    """events.ts remapped onto four 48 h windows, striped by event_id % 4."""
    return {"events": (
        "(CASE event_id % 4"
        + "".join(f" WHEN {i} THEN TIMESTAMP '{s}'" for i, s in enumerate(starts[:3]))
        + f" ELSE TIMESTAMP '{starts[3]}' END"
        " + INTERVAL (epoch(ts)::BIGINT % 172800) SECOND) AS ts"
    )}


#: axis → table → ``SELECT * REPLACE (…)`` list; a table an axis does
#: not name is copied row for row. ``empty`` and ``one`` filter every
#: table instead, and ``jacedge`` replaces the documents whole.
_REPLACE: dict[str, dict[str, str]] = {
    "base": {},
    # constant columns: every value carries an explicit ::DOUBLE cast
    # because a bare 5.0 literal is DECIMAL(2,1) in DuckDB and would
    # silently change the column type
    "flat": {
        "lineitem": "1.0::DOUBLE AS l_quantity, 100.0::DOUBLE AS l_extendedprice",
        "events": "5.0::DOUBLE AS value",
        "customer": "100.0::DOUBLE AS c_acctbal",
        "documents": "'alpha beta alpha' AS text, 'src0' AS source, 16::BIGINT AS n_chars",
    },
    # mixed/upper-case documents: the case-normalization kill surface of
    # the mutation audit (committed corpora are all-lowercase, so a
    # dropped lower() survives every other axis)
    "upper": {"documents": "upper(substr(text, 1, 8)) || substr(text, 9) AS text"},
    "blank": {"documents": "'' AS text, 0::BIGINT AS n_chars"},
    "x10": _scaled("10.0"),
    "x1e5": _scaled("100000.0"),
    "x1em5": _scaled("0.00001"),
    # xfrac re-quantizes to the measure quantum (2 dp): the ×0.1
    # products are 3-dp, and SUB-quantum doubles are out of the
    # parity contract because DuckDB's double→DECIMAL cast is not
    # correctly rounded (ARCHITECTURE §23; Spark's is, and
    # DuckDB's own round()/::VARCHAR routes are) — ingest owns
    # quantization. The axis probes fractional, sub-unit
    # magnitudes AT quantum: quantities like 1.7, cent-scale
    # prices — the integer-weight/bucket cast sites' fault line.
    "xfrac": _scaled("0.1", quantize=True),
    "unicode": {"documents": f"{_UNICODE_PREFIX} AS text, "
                             f"length({_UNICODE_PREFIX})::BIGINT AS n_chars"},
    # NULL-injection axis (round 11): deterministic planted
    # NULLs in every IN-CONTRACT nullable column — measures,
    # attributes, and the FK-shaped events.user_id. Keys /
    # event-time / embedding payloads stay non-null per the
    # contract adjudication (ARCHITECTURE §22).
    "nulls": {
        "lineitem": f"(CASE WHEN {_LINE} % 19 = 3 THEN NULL ELSE l_quantity END) AS l_quantity",
        "events": "(CASE WHEN event_id % 17 = 5 THEN NULL ELSE value END) AS value, "
                  "(CASE WHEN event_id % 41 = 11 THEN NULL ELSE user_id END) AS user_id",
        "orders": "(CASE WHEN o_orderkey % 23 = 7 THEN NULL ELSE o_totalprice END) AS o_totalprice",
        "customer": "(CASE WHEN c_custkey % 13 = 2 THEN NULL ELSE c_acctbal END) AS c_acctbal",
        "part": "(CASE WHEN p_partkey % 11 = 4 THEN NULL ELSE p_retailprice END) AS p_retailprice",
        "documents": "(CASE WHEN doc_id % 29 = 6 THEN NULL ELSE lang END) AS lang",
        "embeddings": "(CASE WHEN vec_id % 13 = 3 THEN NULL ELSE label END) AS label",
    },
    # NULL-text axis (round 11, second NULL wave): the document
    # PAYLOAD itself missing (failed fetch), with the derived
    # n_chars nulled consistently. Distinct from blank-text
    # ('' is the tokenization degenerate; NULL is 3VL) and from
    # the "nulls" mode (which nulls measures/attributes but
    # keeps text).
    "nulltext": {"documents": (
        "(CASE WHEN doc_id % 31 = 8 THEN NULL ELSE text END) AS text, "
        "(CASE WHEN doc_id % 31 = 8 THEN NULL ELSE n_chars END) AS n_chars"
    )},
    # Duplicate-heavy axis (round 11): 90% of docs share ONE
    # text — the all-duplicates boundary of the dedup tier.
    # Every shingle bucket collides, every LSH band collides,
    # and the exact-dup group is half the corpus: stresses
    # candidate bounding (the 450-doc clique is ~100k pairs —
    # bounded, not n² over the corpus) and survivor tiebreaks.
    "dupheavy": {"documents": (
        f"(CASE WHEN doc_id % 10 != 0 THEN '{_DUP_TEXT}' ELSE text END) AS text, "
        f"(CASE WHEN doc_id % 10 != 0 THEN length('{_DUP_TEXT}')::BIGINT"
        " ELSE n_chars END) AS n_chars"
    )},
    # Skewed-key axis (round 11): 90% of rows concentrated on
    # ONE key per skewable column — the 100 TB hot-key shape.
    # Referential integrity holds (custkey 0 / partkey 0 exist).
    "skew": {
        "events": "(CASE WHEN event_id % 10 != 0 THEN 0 ELSE user_id END) AS user_id",
        "documents": "(CASE WHEN doc_id % 10 != 0 THEN 'src0' ELSE source END) AS source",
        "lineitem": f"(CASE WHEN {_LINE} % 10 != 0 THEN 0 ELSE l_partkey END) AS l_partkey",
        "orders": "(CASE WHEN o_orderkey % 10 != 0 THEN 0 ELSE o_custkey END) AS o_custkey",
    },
    # Combined axis (round 12): NULL-injection × skewed keys in
    # ONE fixture — multi-variable interaction is the one
    # divergence shape the 12 single-variable axes can't probe.
    # The events hot key is NULL ITSELF (90% of user_ids NULL):
    # a NULL-keyed 90%-skew group exercises AQE skew handling,
    # NULL grouping (GROUP BY collects them) and NULL join keys
    # (predicates never match them) in one plan. Other tables
    # compose the round-11 skew + nulls REPLACEs side by side.
    "nullskew": {
        "lineitem": f"(CASE WHEN {_LINE} % 10 != 0 THEN 0 ELSE l_partkey END) AS l_partkey, "
                    f"(CASE WHEN {_LINE} % 19 = 3 THEN NULL ELSE l_quantity END) AS l_quantity",
        "events": "(CASE WHEN event_id % 10 != 0 THEN NULL ELSE user_id END) AS user_id, "
                  "(CASE WHEN event_id % 17 = 5 THEN NULL ELSE value END) AS value",
        "orders": "(CASE WHEN o_orderkey % 10 != 0 THEN 0 ELSE o_custkey END) AS o_custkey, "
                  "(CASE WHEN o_orderkey % 23 = 7 THEN NULL ELSE o_totalprice END) AS o_totalprice",
        "customer": "(CASE WHEN c_custkey % 13 = 2 THEN NULL ELSE c_acctbal END) AS c_acctbal",
        "part": "(CASE WHEN p_partkey % 11 = 4 THEN NULL ELSE p_retailprice END) AS p_retailprice",
        "documents": "(CASE WHEN doc_id % 10 != 0 THEN 'src0' ELSE source END) AS source, "
                     "(CASE WHEN doc_id % 29 = 6 THEN NULL ELSE lang END) AS lang",
        "embeddings": "(CASE WHEN vec_id % 13 = 3 THEN NULL ELSE label END) AS label",
    },
    # Combined axis (round 12): NULL document payloads INSIDE a
    # duplicate-heavy corpus — the _nonnull_docs filter and the
    # dedup tier's clique bound must hold simultaneously (the
    # NULL stripe must neither join the dup clique nor form a
    # spurious clique of its own). NULL wins where the stripes
    # overlap, so NULLs land inside AND outside the 90% clique.
    "nulldup": {"documents": (
        "(CASE WHEN doc_id % 31 = 8 THEN NULL"
        f" WHEN doc_id % 10 != 0 THEN '{_DUP_TEXT}' ELSE text END) AS text, "
        "(CASE WHEN doc_id % 31 = 8 THEN NULL"
        f" WHEN doc_id % 10 != 0 THEN length('{_DUP_TEXT}')::BIGINT"
        " ELSE n_chars END) AS n_chars"
    )},
    # DST-boundary axis (round 12 probe): events.ts remapped
    # onto four 48 h windows, one per 2024 DST transition —
    # spring-forward gaps (US 03-10 07:00 UTC, EU 03-31 01:00
    # UTC) AND fall-back folds (EU 10-27 01:00 UTC, US 11-03
    # 06:00 UTC) — striped by event_id % 4. The engine contract
    # is TIMESTAMP_NTZ under a pinned-UTC session, so
    # date_trunc/window/time_bucket must be pure civil-time
    # arithmetic with NO gap/fold behavior; this axis pins that
    # the contract actually holds on timestamps where a
    # tz-aware implementation would diverge.
    "dst": _events_ts(("2024-03-09 12:00:00", "2024-03-30 12:00:00",
                       "2024-10-26 12:00:00", "2024-11-02 12:00:00")),
    "jacedge": {},
    # Calendar-edge axis (round-13 probe, the STATUS queue's
    # last time candidate): events.ts remapped onto four 48 h
    # windows straddling (0) the 2024 LEAP DAY, (1) the
    # 2023→2024 year boundary, (2) the non-leap 2023 Feb 28 →
    # Mar 1 edge, and (3) the leap-year 2024→2025 year
    # boundary. Probes date_trunc/year/month/quarter/dayofweek
    # arithmetic where proleptic-Gregorian engines could
    # disagree on day-count vs calendar-field logic. Expected
    # 0-divergent (both engines are field-based); the axis pins
    # that expectation.
    "calendar": _events_ts(("2024-02-28 12:00:00", "2023-12-30 12:00:00",
                            "2023-02-27 12:00:00", "2024-12-30 12:00:00")),
    # Non-unit-norm embedding axis (round-13 mutation audit
    # M12): the committed embeddings corpus is unit-normalized
    # to ~1e-7, so a dropped/broken cosine NORMALIZATION is
    # output-identical at 6 dp on every other fixture — the
    # similarity tier passed vacuously on that bug class. Scale
    # each vector by an exact small integer (2 + vec_id % 4 ∈
    # {2..5}; float32 × small int is exactly representable, no
    # rounding), making norms heterogeneous so cosine ≠ dot and
    # any operator that skips or botches normalization diverges.
    "vecscale": {"embeddings": (
        "list_transform(embedding, x -> (x * (2 + vec_id % 4))::FLOAT) AS embedding"
    )},
    # Negative-measure axis (round 12): sign-flip stripes on
    # every money/quantity measure — refunds, reversals and
    # corrections are normal rows in a 100 TB ledger. The sharp
    # edge is domain-restricted math: DuckDB ln/sqrt THROW on
    # negative input where Spark's F.log returns NULL and
    # F.sqrt returns NaN, so any operator feeding a raw measure
    # into log/sqrt diverges as an oracle ERROR (the worst
    # class). Stripes are co-prime so single- and mixed-sign
    # groups both occur.
    "negative": {
        "lineitem": f"(CASE WHEN {_LINE} % 7 = 1 THEN -l_quantity ELSE l_quantity END)"
                    " AS l_quantity, "
                    f"(CASE WHEN {_LINE} % 11 = 2 THEN -l_extendedprice"
                    " ELSE l_extendedprice END) AS l_extendedprice",
        "events": "(CASE WHEN event_id % 7 = 1 THEN -value ELSE value END) AS value",
        "orders": "(CASE WHEN o_orderkey % 7 = 1 THEN -o_totalprice ELSE o_totalprice END)"
                  " AS o_totalprice",
        "customer": "(CASE WHEN c_custkey % 7 = 1 THEN -c_acctbal ELSE c_acctbal END) AS c_acctbal",
        "part": "(CASE WHEN p_partkey % 7 = 1 THEN -p_retailprice ELSE p_retailprice END)"
                " AS p_retailprice",
    },
}

# Adversarial near-threshold Jaccard axis (round 12): doc
# pairs engineered so 3-gram Jaccard n_common/(sa+sb-n_common)
# lands EXACTLY on the 0.5 (ngram/minhash-verify/prefix) and
# 0.3 (levenshtein block) thresholds as exact rationals —
# the ">= t" cut must not straddle engines. Pair-disjoint
# vocabularies keep cross-pair shingle collisions at zero;
# shared-word runs of length m yield m-2 common shingles.
#   docs (1,2):  sa=sb=3, common=2  → J = 2/4  = 0.5  AT 0.5
#   docs (3,4):  sa=6, sb=7, common=3 → J = 3/10 = 0.3 AT 0.3
#   docs (5,6):  sa=4, sb=5, common=3 → J = 3/6  = 0.5 AT 0.5
#   docs (7,8):  sa=3, sb=4, common=2 → J = 2/5  = 0.4 between
#   docs (9,10): sa=4, sb=5, common=2 → J = 2/7 ≈ .286 below
#   docs (11,12): 11 tokens, last replaced → sa=sb=9,
#     common=8 → J = 8/10 = 0.8 AT the minhash-verify cut,
#     AND (round-13 mutation audit M13) the pair's 16
#     md5('mh…') minhash signatures collide in band 0 under
#     the committed salt while the counterfactual 'mx' salt
#     collides in NO band — so the pair's presence proves
#     the BANDING stage found it (a salt/banding bug cannot
#     pass vacuously; searched deterministically, trial 5).
_JACEDGE_DOCS = (
    "SELECT doc_id::BIGINT AS doc_id, text, lang, source,"
    " length(text)::BIGINT AS n_chars FROM (VALUES "
    "(1, 'ax1 ac1 ac2 ac3 ac4', 'en', 'src0'), "
    "(2, 'ac1 ac2 ac3 ac4 ay1', 'en', 'src0'), "
    "(3, 'bx1 bx2 bx3 bc1 bc2 bc3 bc4 bc5', 'en', 'src0'), "
    "(4, 'bc1 bc2 bc3 bc4 bc5 by1 by2 by3 by4', 'en', 'src0'), "
    "(5, 'cx1 cc1 cc2 cc3 cc4 cc5', 'en', 'src0'), "
    "(6, 'cc1 cc2 cc3 cc4 cc5 cy1 cy2', 'en', 'src0'), "
    "(7, 'dx1 dc1 dc2 dc3 dc4', 'en', 'src0'), "
    "(8, 'dc1 dc2 dc3 dc4 dy1 dy2', 'en', 'src0'), "
    "(9, 'ex1 ex2 ec1 ec2 ec3 ec4', 'en', 'src0'), "
    "(10, 'ec1 ec2 ec3 ec4 ey1 ey2 ey3', 'en', 'src0'), "
    "(11, 'm5w0 m5w1 m5w2 m5w3 m5w4 m5w5 m5w6 m5w7 m5w8"
    " m5w9 m5w10', 'en', 'src0'), "
    "(12, 'm5w0 m5w1 m5w2 m5w3 m5w4 m5w5 m5w6 m5w7 m5w8"
    " m5w9 m5z', 'en', 'src0')"
    ") AS v(doc_id, text, lang, source)"
)


def build_fixture(dest: str, mode: str, src_dir: str = SF0001) -> None:
    """Materialize the axis fixture ``mode`` into ``dest``, one parquet
    file per table: ``empty`` (0 rows), ``one`` (the lowest-key row), or
    a ``_REPLACE`` axis (``base`` is ``src_dir`` itself)."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        src = os.path.join(src_dir, f"{t}.parquet")
        q = f"SELECT * FROM read_parquet('{src}')"
        if mode == "empty":
            q += " WHERE false"
        elif mode == "one":
            q += f" ORDER BY {_PK[t]} LIMIT 1"
        elif mode == "jacedge" and t == "documents":
            q = _JACEDGE_DOCS
        elif t in _REPLACE[mode]:
            q = f"SELECT * REPLACE ({_REPLACE[mode][t]}) FROM read_parquet('{src}')"
        con.execute(
            f"COPY ({q}) TO '{os.path.join(dest, t + '.parquet')}' (FORMAT PARQUET)"
        )
    con.close()


def oracle_builds(exclude: frozenset[str] = frozenset()) -> dict:
    """``raw_fn`` of every oracle key but ``exclude``, for ``run_keys``:
    fresh plans, so a sweep leaves no plan-cache entries behind."""
    builds = {
        k: s.raw_fn for k, s in sorted(REGISTRY.items()) if s.oracle and k not in exclude
    }
    assert len(builds) >= 300  # the sweep must cover the whole registry
    return builds


@pytest.fixture(scope="module")
def empty_dir():
    d = tempfile.mkdtemp(prefix="emptyfix_")
    build_fixture(d, "empty")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def one_dir():
    d = tempfile.mkdtemp(prefix="onefix_")
    build_fixture(d, "one")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_empty_tables(spark, empty_dir):
    bad = run_keys(spark, empty_dir, oracle_builds())
    assert not bad, bad


def test_every_oracle_survives_single_row_tables(spark, one_dir):
    bad = run_keys(spark, one_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def blank_dir():
    d = tempfile.mkdtemp(prefix="blankfix_")
    build_fixture(d, "blank")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_blank_text(spark, blank_dir):
    bad = run_keys(spark, blank_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def unicode_dir():
    d = tempfile.mkdtemp(prefix="unifix_")
    build_fixture(d, "unicode")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_non_ascii_text(spark, unicode_dir):
    # dedup_levenshtein excluded: DuckDB's levenshtein builtin is
    # byte-based, Spark's char-based — a genuine engine-builtin
    # difference pinned by the relationship test below instead.
    bad = run_keys(spark, unicode_dir, oracle_builds(exclude=frozenset({"dedup_levenshtein"})))
    assert not bad, bad


@pytest.fixture(scope="module")
def x10_dir():
    d = tempfile.mkdtemp(prefix="x10fix_")
    build_fixture(d, "x10")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_10x_magnitudes(spark, x10_dir):
    """Value-domain envelope margin: every monetary/measure column at
    10× the fixture's magnitudes (prices to ~1e6). Magnitude is a DATA
    DOMAIN property, not a scale property — 100 TB grows row counts
    (absorbed by the DECIMAL(38) sum discipline and the documented
    doubles-combine rules), not individual prices — but a full
    order-of-magnitude margin over the domain must hold cleanly.
    Round 10's out-of-envelope ×1e5 probe measured 6 saturation edges
    beyond this margin; round 11 widened the 5 decimal-cast ones
    (agg_corr / ts_autocorr / ts_sax force DuckDB's int128 multiply
    path via 19,2; q9's subtraction-promoted DECIMAL(18,4); and
    stat_levene's Spark-side residual 13,6 → 18,6) and promoted the
    ×1e5 probe to the pinned CI axis below."""
    bad = run_keys(spark, x10_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def x1e5_dir():
    d = tempfile.mkdtemp(prefix="x1e5fix_")
    build_fixture(d, "x1e5")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_1e5x_magnitudes(spark, x1e5_dir):
    """The former out-of-envelope probe, now the pinned envelope: every
    monetary/measure column at 100000× (prices to ~1e10, per-group sums
    to ~1e15) — five orders of magnitude of domain headroom over the
    fixture. Requires the int128-forcing decimal widths (agg_corr cast
    note). agg_stats is excluded HERE ONLY: it exists to demonstrate
    the engines' STREAMING corr/covar built-ins, whose partition-order
    double drift is absolute-scale-proportional — fixed-dp rounding
    absorbs it at the fixture's magnitudes but cannot at 1e10× larger
    covariances (~1e13). Its exact-decimal-moments twin agg_corr passes
    this axis bit-exact; agg_stats itself is pinned on this fixture by
    the relative-error test below."""
    bad = run_keys(spark, x1e5_dir, oracle_builds(exclude=frozenset({"agg_stats"})))
    assert not bad, bad


def test_x1e5_agg_stats_relative_drift_bounded(spark, x1e5_dir):
    """agg_stats at ×1e5: the streaming built-ins' cross-engine drift
    is a few ulps — relative error vs the DuckDB oracle must stay
    under 1e-9 even though fixed-dp rounding no longer hides it."""
    duck = make_duck(x1e5_dir)
    srows = {
        r["l_returnflag"]: (
            r["qty_price_corr"], r["qty_price_covar"], r["qty_disc_covar_pop"]
        )
        for r in REGISTRY["agg_stats"].raw_fn(spark, x1e5_dir).collect()
    }
    drows = {
        flag: vals
        for flag, *vals in duck.execute(REGISTRY["agg_stats"].oracle).fetchall()
    }
    assert set(srows) == set(drows)
    for flag, dvals in drows.items():
        for s, d in zip(srows[flag], dvals):
            # qty_price_corr is NULL on a zero-variance group (try_divide
            # / DuckDB corr) — require engine agreement, then compare
            assert (s is None) == (d is None), (flag, s, d)
            if s is None:
                continue
            assert abs(s - d) <= 1e-9 * max(abs(s), abs(d), 1.0), (
                flag, s, d
            )


def test_rows_only_keys_survive_degenerate_inputs(spark, empty_dir, one_dir):
    """The 4 rows-only keys have no oracle, so the parity sweeps skip
    them — execute them directly: they must build and run (not crash)
    on 0-row and 1-row fixtures."""
    keys = sorted(k for k, s in REGISTRY.items() if not s.oracle)
    assert len(keys) == 4, keys
    for k in keys:
        for d in (empty_dir, one_dir):
            REGISTRY[k].raw_fn(spark, d).collect()


def test_unicode_levenshtein_relationship(spark, unicode_dir):
    """Char-level edit distance never exceeds byte-level (every char
    edit costs >= 1 byte edit), and both engines share the char-counted
    length cutoff — so DuckDB's byte-based result set is a SUBSET of
    Spark's on non-ASCII text, with spark_dist <= duck_dist on shared
    pairs and equality wherever both texts are pure ASCII."""
    duck = make_duck(unicode_dir)
    srows = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in REGISTRY["dedup_levenshtein"].raw_fn(spark, unicode_dir).collect()
    }
    drows = {
        (a, b): dist
        for a, b, dist in duck.execute(
            REGISTRY["dedup_levenshtein"].oracle
        ).fetchall()
    }
    assert set(drows) <= set(srows), (set(drows) - set(srows))
    for pair, ddist in drows.items():
        assert srows[pair] <= ddist, (pair, srows[pair], ddist)


def test_case_folding_contract_full_unicode(spark, tmp_path):
    """Engine-builtin difference, adjudicated (round 12, the
    dedup_levenshtein precedent): Spark's lower() applies FULL Unicode
    case mapping (contextual final sigma ΟΔΟΣ→οδος, İ→i+combining dot)
    while DuckDB's lower() is SIMPLE folding (ΟΔΟΣ→οδοσ, İ→istanbul).
    The engine's semantics are Spark's full mapping — the
    linguistically correct normalization for a fingerprint key. The
    shipped fixtures and the unicode axis are parity-clean because
    their characters fold identically under both rules; this test pins
    the contract on the characters where the rules DISAGREE:
    text_fingerprint must equal md5(full-lowercase) exactly, and the
    DuckDB oracle must differ on those docs and ONLY those docs."""
    import hashlib

    import duckdb as _duck

    from mapreduce_server_spark import REGISTRY

    docs = [
        (1, "ΟΔΟΣ ΕΡΜΟΥ"),          # final-sigma context: full ≠ simple
        (2, "İstanbul VİEW"),        # dotted capital I: full ≠ simple
        (3, "PLAIN ASCII Text"),     # agree
        (4, "café 数据处理 ẞ"),      # agree (ẞ→ß under both)
    ]
    d = str(tmp_path / "casefix")
    import os

    os.makedirs(d)
    con = _duck.connect()
    con.execute(
        "COPY (SELECT doc_id::BIGINT AS doc_id, text, 'en' AS lang,"
        " 'src0' AS source, length(text)::BIGINT AS n_chars FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in docs)
        + ") v(doc_id, text)) TO '" + os.path.join(d, "documents.parquet")
        + "' (FORMAT PARQUET)"
    )
    for t in TABLE_NAMES:
        if t == "documents":
            continue
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF0001}/{t}.parquet'))"
            f" TO '{os.path.join(d, t + '.parquet')}' (FORMAT PARQUET)"
        )

    got = {
        r["doc_id"]: r["fp"]
        for r in REGISTRY["text_fingerprint"].raw_fn(spark, d).collect()
    }
    # the semantic pin: Python str.lower() is the same full Unicode
    # mapping Spark/Java apply
    want = {i: hashlib.md5(t.lower().encode()).hexdigest() for i, t in docs}
    assert got == want

    oracle = {
        i: fp
        for i, fp, _pre in con.execute(
            REGISTRY["text_fingerprint"].oracle.replace(
                "documents", f"read_parquet('{d}/documents.parquet')"
            )
        ).fetchall()
    }
    # the documented divergence manifests exactly on the full≠simple docs
    assert {i for i in want if oracle[i] != want[i]} == {1, 2}


@pytest.fixture(scope="module")
def x1em5_dir():
    d = tempfile.mkdtemp(prefix="x1em5fix_")
    build_fixture(d, "x1em5")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_x1em5_magnitudes(spark, x1em5_dir):
    """Seventeenth axis (round 12): measures shrunk ×1e-5 — the
    sub-quantum end of the magnitude envelope (×1e5 pinned the top).
    First run found SIX divergences in three classes, all fixed and
    re-verified oracle-exact on the real fixture: (a) zero-total
    denominators — decimal sums collapse to 0.00 and Spark ANSI `/`
    throws where DuckDB x/0 is NULL (ts_seasonality, stat_gini,
    stat_concentration, sample_weighted's integer weight → F.try_divide,
    the flat-fixture round-9 rule; these zero totals are reachable at
    ANY magnitude now that negative measures are in contract — a
    sign-cancelling group has Σx = 0); (b) a raw double sum is
    fold-order-dependent once values are non-integral (sink_zorder /
    sink_partitioned → decimal-sum discipline); (c) double→BIGINT CAST
    rounding differs between engines — Spark truncates, DuckDB rounds
    half-even — so stat_levene's cents histogram now uses the explicit
    floor(x*100 + 0.5) half-up idiom on both sides (also a LATENT
    normal-magnitude divergence for any price whose *100 float
    representation lands below the integer)."""
    bad = run_keys(spark, x1em5_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def xfrac_dir():
    d = tempfile.mkdtemp(prefix="xfracfix_")
    build_fixture(d, "xfrac")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_fractional_measures(spark, xfrac_dir):
    """Eighteenth axis (round 12): measures ×0.1, re-quantized to the
    2-dp quantum — fractional sub-unit quantities (1.7 kg, 0.25 h) and
    cent-scale prices, the realistic non-integer middle the power-of-ten
    axes skip. First run (unquantized) also exposed that DuckDB's
    double→DECIMAL cast is NOT correctly rounded (4132.8949999999995 →
    4132.90; its round()/::VARCHAR routes are correct) — adjudicated as
    the ingest-owns-quantization contract, ARCHITECTURE §23. At-quantum,
    the axis found the integer-weight cast divergence: Spark double→long
    CASTS truncate, DuckDB ::BIGINT rounds half-even (quantity 1.7 → 1
    vs 2), so every quantity→integer site now spells the explicit
    floor(x + 0.5) half-up idiom on both engines (scalar_math,
    ml_auc/calibration/kfold_cv/isotonic, sample_weighted)."""
    bad = run_keys(spark, xfrac_dir, oracle_builds())
    assert not bad, bad


@pytest.fixture(scope="module")
def vecscale_dir():
    d = tempfile.mkdtemp(prefix="vecscalefix_")
    build_fixture(d, "vecscale")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_every_oracle_survives_nonunit_embeddings(spark, vecscale_dir):
    """Nineteenth axis (round-13 mutation audit): embeddings scaled by
    exact per-row integers {2..5} so the corpus is NOT unit-normalized.
    The committed corpus has ‖v‖ ∈ [1−1e-7, 1+1e-7], which made every
    cosine NORMALIZATION bug output-identical at 6 dp — mutation M12
    (cosine → raw dot product) survived every fixture until this one.
    Every similarity/ML/embedding key must still match its oracle when
    norms are heterogeneous."""
    bad = run_keys(spark, vecscale_dir, oracle_builds())
    assert not bad, bad
