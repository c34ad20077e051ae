#!/usr/bin/env python
"""Simulate the driver's verification end-to-end: vanilla SparkSession →
entry() smoke → every queries() key through ``tests.parity.run_keys``
(exact compare with its oracle_sql() in DuckDB plus the fetch-dtype
check, stricter than the driver's hash). Prints one line per key; exit 1
on any failure.

Usage: python tools/driver_sim.py [sf_dir] [key ...] [--log PATH]
  sf_dir defaults to the sf0.01 fixture; no keys means every key.
  --log PATH appends one JSON line per finished key; a rerun with the
  same PATH skips the keys it already holds, so a killed sweep resumes
  where it stopped.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The verification surface also enforces the measure contract at load
# (round-13: a sub-quantum/NaN corpus fails loudly at the first scan
# instead of as dozens of oracle divergences).
os.environ.setdefault("SPARK_GRAFT_VALIDATE_MEASURES", "1")


def main() -> int:
    from tests.conftest import SF001

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=SF001)
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--log", help="per-key JSON-lines log to append to and resume from")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from tests.parity import run_keys

    queries = entrymod.queries()
    missing = [k for k in args.keys if k not in queries]
    if missing:
        print(f"NOT REGISTERED: {missing}")
        return 1
    if args.keys:
        queries = {k: queries[k] for k in args.keys}

    master = os.environ.get("MRSS_MASTER", "local[8]")
    # The real driver grades 50 keys; this sim runs the FULL registry in
    # one session, so per-operator cache() blocks accumulate for 230+
    # queries and the default 1 GiB driver heap dies on the late
    # collect-heavy queries at sf0.1 (observed: scalar_math lost-task).
    # Memory sizing only — query semantics stay vanilla.
    spark = (
        SparkSession.builder.master(master)
        .appName("driver-sim")
        .config("spark.driver.memory", os.environ.get("MRSS_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = entrymod.entry(spark).collect()
    assert len(rows) > 0, "entry() smoke failed"
    print(f"entry(): {len(rows)} rows OK")

    # DuckDB 1.0's windowed/grouped aggregates over ~10^5+ partitions
    # retain tens of thousands of allocator mappings: at sf1 the distro
    # default vm.max_map_count=65530 kills the oracle run mid-sweep with
    # a 'bad allocation' OOM (round 13: 84 keys from ml_naive_bayes on);
    # with 262144 the same sweep peaks at ~1.7k maps. Raise it on the
    # host before an sf1 sweep; a killed sweep resumes from its --log.
    bad = run_keys(spark, args.sf_dir, queries, log=args.log)
    if bad:
        print(f"FAILED ({len(bad)}):")
        for key, msg in bad.items():
            print(f"  {key}: {msg}")
        return 1
    exact = sum(1 for k in queries if k in entrymod.oracle_sql())
    print(f"ALL {len(queries)} QUERIES OK ({exact} oracle-exact)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
