#!/usr/bin/env python
"""Mutation audit of the parity harness (round-13 verdict item #2).

18 sweep axes × 307 oracles reading "0 divergent" is only evidence of
absence if the harness can actually KILL the bug classes it claims to
cover. This tool measures that: it plants ~15 deliberate one-line bugs
(one per adjudicated fault class from ARCHITECTURE §22-23 — threshold
boundary, NULL filter, half-up cast, try_divide, domain guard,
decimal-sum discipline, window tiebreak, join type, case folding,
window size, NULL-skipping count, similarity metric, LSH salt, session
timezone pinning, tokenizer class) into a scratch COPY of the operator
package, runs each mutant's affected key(s) against the UNMUTATED
DuckDB oracle on the axis fixture that claims to cover the class, and
records the kill.

A mutant is KILLED when ``tests.parity.run_keys`` reports any affected
key (a mismatch, an error or a fetch-dtype drift against its oracle); a
SURVIVOR is a hole in the oracle surface — fix the oracle or add the
missing fixture pin, then re-run.

Each mutant runs in its own subprocess (own Spark JVM) with the
mutated package shadowing the real one via sys.path; the real repo
tree is never modified. A per-fixture CONTROL run (unmutated package,
same keys, same fixture) guards against a broken fixture masquerading
as a kill.

Usage: python tools/mutation_audit.py [--only M01,M02] [--list]
Exit 0 iff every control passes and every mutant is killed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "mapreduce_server_spark")

# ---------------------------------------------------------------- mutations

#: Each mutation: one-line (old → new) edit, the fixture axis whose
#: sweep claims to cover the fault class, and the registry key(s) whose
#: oracle must kill it.
MUTATIONS = [
    dict(
        mid="M01_threshold_exclusive",
        cls="threshold boundary (>= → >)",
        file="jobs.py",
        old=".filter(jac >= threshold)",
        new=".filter(jac > threshold)",
        fixture="jacedge",
        keys=["dedup_ngram_jaccard"],
    ),
    dict(
        mid="M02_drop_null_filter",
        cls="NULL-text filter dropped",
        file="jobs.py",
        old="d = df.where(F.col(text_col).isNotNull())",
        new="d = df",
        fixture="nulltext",
        keys=["dedup_ngram_jaccard"],
    ),
    dict(
        mid="M03_halfup_to_truncate",
        cls="half-up → bare int cast (truncation)",
        file="operators/scalars.py",
        old="(F.floor(F.col(\"l_quantity\") + F.lit(0.5)).cast(\"long\") % 7)",
        new="(F.col(\"l_quantity\").cast(\"long\") % 7)",
        fixture="xfrac",
        keys=["scalar_math"],
    ),
    dict(
        mid="M04_drop_domain_guard",
        cls="sqrt domain guard dropped",
        file="operators/scalars.py",
        old="F.when(qty >= 0, F.round(F.sqrt(qty), 6)).alias(\"sqrt_qty\")",
        new="F.round(F.sqrt(qty), 6).alias(\"sqrt_qty\")",
        fixture="negative",
        keys=["scalar_math"],
    ),
    dict(
        mid="M05_raw_double_sum",
        cls="decimal-sum discipline → raw double sum",
        file="functions/numeric.py",
        old="return F.sum(c.cast(f\"decimal({precision},{scale})\")).cast(\"double\")"
            "\n\n\ndef davg",
        new="return F.sum(c).cast(\"double\")\n\n\ndef davg",
        fixture="x1em5",
        keys=["agg_group", "q1_pricing_summary"],
    ),
    dict(
        mid="M06_remove_try_divide",
        cls="try_divide → ANSI / (zero variance)",
        file="operators/stats_ml.py",
        old="slope = F.try_divide(cov_n, var_x)",
        new="slope = cov_n / var_x",
        fixture="one",
        keys=["stat_linreg"],
    ),
    dict(
        mid="M07_window_tiebreak",
        cls="window tiebreak direction flipped",
        file="operators/windows.py",
        old="w = Window.partitionBy(\"user_id\").orderBy(F.desc(\"value\"), F.asc(\"event_id\"))",
        new="w = Window.partitionBy(\"user_id\").orderBy(F.desc(\"value\"), F.desc(\"event_id\"))",
        fixture="flat",
        keys=["win_rownum_topk"],
    ),
    dict(
        mid="M08_left_to_inner",
        cls="outer join → inner",
        file="operators/relational.py",
        old="t.customer.join(big, F.col(\"c_custkey\") == F.col(\"o_custkey\"), \"left\")",
        new="t.customer.join(big, F.col(\"c_custkey\") == F.col(\"o_custkey\"), \"inner\")",
        fixture="base",
        keys=["join_left"],
    ),
    dict(
        mid="M09_drop_case_fold",
        cls="case normalization dropped",
        file="operators/text.py",
        old="fp = F.md5(F.lower(\"text\").cast(\"binary\"))",
        new="fp = F.md5(F.col(\"text\").cast(\"binary\"))",
        fixture="upper",
        keys=["text_fingerprint"],
    ),
    dict(
        mid="M10_window_size",
        cls="tumbling window 1h → 2h",
        file="operators/events_batch.py",
        # hourly_totals: the key and its streaming form, together
        old="ev.groupBy(F.window(\"ts\", \"1 hour\").alias(\"w\"), by)",
        new="ev.groupBy(F.window(\"ts\", \"2 hours\").alias(\"w\"), by)",
        fixture="base",
        keys=["stream_tumbling", "stream_topk"],
    ),
    dict(
        mid="M11_count_skips_nulls",
        cls="count(*) → count(col) (NULL-skipping)",
        file="operators/aggregates.py",
        old="F.count(F.lit(1)).alias(\"n_orders\"), dsum(\"o_totalprice\").alias(\"total\")",
        new="F.count(F.col(\"o_totalprice\")).alias(\"n_orders\"), dsum(\"o_totalprice\").alias(\"total\")",
        fixture="nulls",
        keys=["agg_group"],
    ),
    dict(
        mid="M12_cosine_to_dot",
        cls="cosine → unnormalized dot product",
        file="jobs.py",
        old="sim = F.expr(vector.cosine_sql(vec_col, query))",
        new="sim = F.expr(vector.dot_sql(vec_col, query))",
        # the committed corpus is unit-normalized (dot == cosine at
        # 6 dp): survived 'base' in the first audit run — the vecscale
        # axis exists because of that survivor
        fixture="vecscale",
        keys=["knn_bruteforce"],
    ),
    dict(
        mid="M13_lsh_salt_change",
        cls="LSH hash salt changed (candidate recall)",
        file="operators/dedup.py",
        old="return md5_int(f\"mh{s}:\", shingle)",
        new="return md5_int(f\"mx{s}:\", shingle)",
        # survived 'base' in the first audit run (planted dups are
        # EXACT — identical signatures under any salt): jacedge now
        # carries a searched pair whose banding collides only under
        # the committed 'mh' salt
        fixture="jacedge",
        keys=["dedup_minhash"],
    ),
    dict(
        mid="M14_session_tz_unpinned",
        cls="session timezone pin UTC → America/New_York",
        file="sources/loader.py",
        old="\"spark.sql.session.timeZone\": \"UTC\",",
        new="\"spark.sql.session.timeZone\": \"America/New_York\",",
        fixture="dst",
        keys=["stream_tumbling", "scalar_date"],
    ),
    dict(
        mid="M15_tokenizer_class_dropped",
        cls="regex tokenizer class dropped",
        file="operators/text.py",
        old="F.size(F.regexp_extract_all(\"text\", F.lit(\"([a-z]+|[0-9]+|[^a-z0-9 ])\")))",
        new="F.size(F.regexp_extract_all(\"text\", F.lit(\"([a-z]+|[0-9]+)\")))",
        # survived 'base' in the first audit run (the committed corpus
        # is pure [a-z0-9 ] — no char ever hits the dropped class);
        # the unicode axis has non-ASCII chars that do
        fixture="unicode",
        keys=["text_token_count"],
    ),
]

# ---------------------------------------------------------------- child

_CHILD = r"""
import json, sys
pkg_parent, fixture, keys = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
sys.path.insert(0, pkg_parent)
sys.path.insert(1, {repo!r})
from pyspark.sql import SparkSession
import mapreduce_server_spark
assert mapreduce_server_spark.__file__.startswith(pkg_parent), (
    "mutant package not shadowing: " + mapreduce_server_spark.__file__)
from mapreduce_server_spark import REGISTRY
from tests.parity import run_keys
spark = (SparkSession.builder.master("local[4]").appName("mut-audit")
         .config("spark.driver.memory", "3g")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
bad = run_keys(spark, fixture, {{k: REGISTRY[k].raw_fn for k in keys}})
out = {{k: "KILLED " + bad[k][:150].replace("\n", " ") if k in bad else "SURVIVED"
        for k in keys}}
print("RESULT:" + json.dumps(out))
spark.stop()
"""


def _run_child(pkg_parent: str, fixture: str, keys: list[str]) -> dict:
    script = _CHILD.format(repo=REPO)
    env = dict(os.environ)
    for k in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        env.pop(k, None)
    env.pop("SPARK_GRAFT_VALIDATE_MEASURES", None)  # axis fixtures are
    # deliberately out-of-contract (x1em5 is sub-quantum by design)
    proc = subprocess.run(
        [sys.executable, "-c", script, pkg_parent, fixture, ",".join(keys)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
        env=env,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT:")]
    if proc.returncode != 0 or not lines:
        return {"__proc__": f"child failed rc={proc.returncode}: "
                            f"{proc.stderr[-800:]}"}
    return json.loads(lines[-1][len("RESULT:"):])


def _make_mutant(root: str, mut: dict) -> str:
    """Copy the package under ``root`` and apply the one-line edit;
    returns the sys.path parent dir. The edit must match EXACTLY once."""
    parent = os.path.join(root, mut["mid"])
    os.makedirs(parent, exist_ok=True)
    dst = os.path.join(parent, "mapreduce_server_spark")
    shutil.copytree(PKG, dst, ignore=shutil.ignore_patterns("__pycache__"))
    path = os.path.join(dst, mut["file"])
    src = open(path, encoding="utf-8").read()
    n = src.count(mut["old"])
    if n != 1:
        raise RuntimeError(
            f"{mut['mid']}: expected exactly 1 occurrence of the target "
            f"line in {mut['file']}, found {n} — re-anchor the mutation"
        )
    open(path, "w", encoding="utf-8").write(src.replace(mut["old"], mut["new"]))
    return parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", help="comma-separated mutation ids")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    muts = MUTATIONS
    if args.only:
        want = set(args.only.split(","))
        muts = [m for m in MUTATIONS if m["mid"] in want or
                m["mid"].split("_")[0] in want]
    if args.list:
        for m in muts:
            print(f"{m['mid']:28s} {m['fixture']:9s} {m['cls']}")
        return 0

    # the CI sweep builders, so the audit measures the committed axes'
    # kill-power, not bespoke data
    sys.path.insert(0, REPO)
    from tests.test_empty_fixture import build_fixture

    root = tempfile.mkdtemp(prefix="mutaudit_")
    results = []
    try:
        # build each needed fixture once
        fixtures = {}
        for kind in sorted({m["fixture"] for m in muts}):
            d = os.path.join(root, f"fix_{kind}")
            os.makedirs(d)
            build_fixture(d, kind)
            fixtures[kind] = d
            print(f"fixture {kind}: built")

        # controls: unmutated package must PASS on every (fixture, keys)
        ctl_keys: dict[str, set] = {}
        for m in muts:
            ctl_keys.setdefault(m["fixture"], set()).update(m["keys"])
        control_bad = []
        for kind, keys in sorted(ctl_keys.items()):
            out = _run_child(REPO, fixtures[kind], sorted(keys))
            bad = {k: v for k, v in out.items() if v != "SURVIVED"}
            status = "OK" if not bad else f"FAIL {bad}"
            print(f"control {kind}: {status}")
            if bad:
                control_bad.append((kind, bad))

        # mutants
        for m in muts:
            parent = _make_mutant(root, m)
            out = _run_child(parent, fixtures[m["fixture"]], m["keys"])
            killed = any(v.startswith("KILLED") for v in out.values())
            verdict = "KILLED" if killed else "SURVIVED"
            results.append((m["mid"], m["cls"], m["fixture"], verdict, out))
            print(f"{m['mid']:28s} {verdict:8s} "
                  f"{json.dumps(out, separators=(',', ':'))[:160]}")
            shutil.rmtree(parent, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    survivors = [r for r in results if r[3] != "KILLED"]
    print(f"\n{len(results) - len(survivors)}/{len(results)} mutants killed")
    if control_bad:
        print(f"CONTROL FAILURES: {control_bad}")
    if survivors:
        print("SURVIVORS (oracle-surface holes — fix the oracle or add "
              "the fixture pin):")
        for mid, cls, fix, _v, out in survivors:
            print(f"  {mid} [{cls}] on {fix}: {out}")
    return 1 if survivors or control_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
