#!/usr/bin/env python
"""Scaling evidence: run the headline queries at every fixture scale
factor and report per-query wall time plus per-decade scaling
exponents — the "would this survive 100×?" measurement the plan audit
argues qualitatively. Writes SCALING.md.

Round 13 adds the data-dominated decade: an sf1 corpus (10× sf0.1 —
build once with ``python tools/build_sf1.py``) and a WATCHLIST of the
keys whose cost is inherently pair- or window-shaped (dedup tier,
cooccurrence, knn joins, full-corpus ts windows) — the ones a 100×
scale-up would punish first. ``exp`` is log10(t_big/t_small) per
decade: ≈1 scales linearly with data, <1 is still overhead-bound,
>~1.1 is the red flag to chase.

Method matches bench.py (median of 3 timed runs after 1 warm-up,
collect() included, plan build excluded) so numbers are comparable.
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.path.join(REPO, ".localdata", "sf1")

#: Spark-side-only sibling corpus with embeddings ×10 (20k vectors) —
#: the knn watch-list keys measure their sf1 decade against THIS dir
#: (the parity corpus keeps embeddings at 2k for oracle tractability;
#: see tools/build_sf1.py). No oracle runs here, so the quadratic SQL
#: replay cost never enters the measurement.
SF1EMB_DIR = os.path.join(REPO, ".localdata", "sf1emb")

#: watch-list keys whose scaling axis is the embeddings corpus.
EMB_KEYS = {"knn_join", "knn_join_lsh", "knn_ivf"}

SFS = [
    ("0.001", "/root/testdata/sf0.001"),
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
    ("1", SF1_DIR),
]

#: keys whose plans are pair-bounded or full-corpus-window shaped —
#: the round-13 verdict's watch-list for super-linear growth. Measured
#: at sf0.01/sf0.1/sf1 (the sf0.001 column adds nothing for these).
WATCHLIST = [
    "dedup_exact_hash",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_jaccard_prefix",
    "dedup_levenshtein",
    "dedup_simhash",
    "dedup_components",
    "cooccur_parts",
    "rec_item_cosine",
    "knn_join",
    "knn_join_lsh",
    "knn_ivf",
    "text_tfidf",
    "ts_acf_multi",
    "ts_changepoint_binseg",
    "ts_dtw",
    "ts_mad_outliers",
]


def main() -> int:
    from bench import HEADLINE

    sfs = [(sf, d) for sf, d in SFS if os.path.isdir(d)]
    have_sf1 = any(sf == "1" for sf, _ in sfs)
    if not have_sf1:
        print("NOTE: sf1 missing — run tools/build_sf1.py for the "
              "data-dominated decade", file=sys.stderr)

    keys = list(HEADLINE)  # the exact bench-gate query set
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")

    # ONE SUBPROCESS (FRESH JVM) PER KEY-MEASUREMENT — methodology
    # note. A long-lived session accumulates executor state across the
    # ~60 (key × sf) measurements, and at sf1 that state changed the
    # observed cost: round 13 measured dedup_minhash's verify join at
    # 44 s/run in a fresh process but >15 min (sort-heavy) inside the
    # long session — twice, at the same sweep position; clearing
    # DataFrame caches did not help, and spark.stop()+getOrCreate()
    # reuses the same JVM via the py4j gateway, so in-process session
    # recycling still carried the contamination. A fresh process per
    # key also matches how a user actually runs one query, which is
    # what a per-query scaling exponent claims to measure. Startup
    # (~10 s × ~63 measurements) is excluded: the child times only
    # collect() (median of 3 after one warm-up).
    import subprocess

    child_src = (
        "import sys, json, time, statistics\n"
        "sys.path.insert(0, sys.argv[3])\n"
        "from pyspark.sql import SparkSession\n"
        "from mapreduce_server_spark import REGISTRY\n"
        "spark = (SparkSession.builder.master(sys.argv[4])\n"
        "         .appName('scaling-report-child')\n"
        "         .config('spark.driver.memory', sys.argv[5])\n"
        "         .config('spark.sql.shuffle.partitions', sys.argv[6])\n"
        "         .getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "fn = REGISTRY[sys.argv[1]].raw_fn\n"
        "fn(spark, sys.argv[2]).collect()\n"  # warm-up (scan caches, JIT)
        "times = []\n"
        "for _ in range(3):\n"
        "    df = fn(spark, sys.argv[2])\n"
        "    t0 = time.perf_counter()\n"
        "    df.collect()\n"
        "    times.append(time.perf_counter() - t0)\n"
        "print('RESULT ' + json.dumps(statistics.median(times)), flush=True)\n"
        "spark.stop()\n"
    )

    def measure(k, sf_dir):
        out = subprocess.run(
            [
                sys.executable, "-c", child_src, k, sf_dir, REPO,
                f"local[{cpus}]",
                os.environ.get("MRSS_DRIVER_MEM", "16g"), str(cpus),
            ],
            capture_output=True, text=True, timeout=3600,
        )
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                import json

                return json.loads(line[len("RESULT "):])
        raise RuntimeError(
            f"measure({k}, {sf_dir}) produced no RESULT: "
            f"{out.stdout[-500:]} {out.stderr[-500:]}"
        )

    results: dict[str, dict[str, float]] = {k: {} for k in keys}
    for sf, sf_dir in sfs:
        for k in keys:
            results[k][sf] = measure(k, sf_dir)
            print(f"sf{sf} {k}: {results[k][sf]:.3f}s", flush=True)

    watch: dict[str, dict[str, float]] = {k: {} for k in WATCHLIST}
    for sf, sf_dir in sfs:
        if sf == "0.001":
            continue
        for k in WATCHLIST:
            d = sf_dir
            if sf == "1" and k in EMB_KEYS:
                if not os.path.isdir(SF1EMB_DIR):
                    continue
                d = SF1EMB_DIR  # embeddings ×10 (Spark-side only)
            watch[k][sf] = measure(k, d)
            print(f"sf{sf} {k}: {watch[k][sf]:.3f}s", flush=True)

    def exp(r: dict, lo: str, hi: str) -> float:
        if lo in r and hi in r and r[lo] > 0:
            return math.log10(r[hi] / r[lo])
        return float("nan")

    lines = [
        "# SCALING — headline + watch-list queries across scale factors "
        "(generated)",
        "",
        f"`python tools/scaling_report.py` on local[{cpus}]; median of 3",
        "runs after warm-up, collect() included. `exp01` is the empirical",
        "per-decade exponent log10(t_sf0.1/t_sf0.01); `exp1` the same for",
        "sf0.1→sf1 (the data-dominated decade — sf1 is 10 re-keyed stamped",
        "copies of sf0.1, built by tools/build_sf1.py). 1.0 = linear in",
        "data, < 1 = overhead-bound, > ~1.1 = super-linear (the 100 TB",
        "red flag to chase).",
        "",
        "## Headline (bench-gate) queries",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | sf1 s | exp01 | exp1 |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    worst = 0.0
    for k in keys:
        r = results[k]
        e01, e1 = exp(r, "0.01", "0.1"), exp(r, "0.1", "1")
        if not math.isnan(e1):
            worst = max(worst, e1)
        lines.append(
            f"| {k} | {r.get('0.001', float('nan')):.3f} | {r['0.01']:.3f} "
            f"| {r['0.1']:.3f} | "
            + (f"{r['1']:.3f}" if "1" in r else "—")
            + f" | {e01:.2f} | "
            + (f"{e1:.2f}" if not math.isnan(e1) else "—")
            + " |"
        )

    lines += [
        "",
        "## Watch-list (pair-tier / full-corpus-window keys)",
        "",
        "| query | sf0.01 s | sf0.1 s | sf1 s | exp1 |",
        "| --- | --- | --- | --- | --- |",
    ]
    for k in WATCHLIST:
        r = watch[k]
        e1 = exp(r, "0.1", "1")
        if not math.isnan(e1):
            worst = max(worst, e1)
        lines.append(
            f"| {k} | {r['0.01']:.3f} | {r['0.1']:.3f} | "
            + (f"{r['1']:.3f}" if "1" in r else "—")
            + " | "
            + (f"{e1:.2f}" if not math.isnan(e1) else "—")
            + " |"
        )

    lines += [
        "",
        f"Worst sf0.1→sf1 exponent this run: **{worst:.2f}**"
        if have_sf1
        else "Worst exponent this run: n/a (sf1 corpus missing)",
        "",
    ]
    out = os.path.join(REPO, "SCALING.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
