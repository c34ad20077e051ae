#!/usr/bin/env python
"""Simulate the driver's verification end-to-end: vanilla SparkSession →
entry() smoke → queries() keys vs oracle_sql() in DuckDB (exact compare,
stricter than the driver's hash). Exit 1 on any failure.

Usage: python tools/driver_sim.py [sf_dir] [key ...]
  sf_dir defaults to the sf0.01 fixture; no keys means every key.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

# The verification surface also enforces the measure contract at load
# (round-13: a sub-quantum/NaN corpus fails loudly at the first scan
# instead of as dozens of oracle divergences).
os.environ.setdefault("SPARK_GRAFT_VALIDATE_MEASURES", "1")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    keys = sys.argv[2:]

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from conftest import make_duck
    from parity import assert_fetch_dtypes, assert_parity

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
    # host before an sf1 sweep.
    con = make_duck(sf_dir)
    # spillable oracle: an in-memory DuckDB cannot offload without a
    # temp dir, and sf1-size window/list aggregates need one
    from mapreduce_server_spark.scratch import SCRATCH, owned

    spill = owned(os.path.join(SCRATCH, f"duck_spill_p{os.getpid()}"))
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    # Defense-in-depth: DuckDB's default memory_limit is ~80% of
    # physical RAM, so a runaway oracle starves the host before it
    # ever spills. NOTE this cap is NOT sufficient for every operator:
    # DuckDB 1.0's min(STRUCT) aggregate state bypasses the buffer
    # manager (observed round 13: ts_ohlc at sf1 OOM-killed the sweep
    # at 118 GB RSS uncapped AND at 63 GB+ with this 32 GB cap) — such
    # oracles must be rewritten in a scalable spelling instead
    # (ARCHITECTURE §24 "struct-min cliff"; ts_ohlc/ts_m4 now use
    # arg_min over a hugeint composite key).
    con.execute(f"SET memory_limit='{os.environ.get('MRSS_DUCK_MEM', '32GB')}'")

    import time as _time

    verbose = keys or os.environ.get("MRSS_VERBOSE", "") == "1"
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    missing = [k for k in keys if k not in queries]
    if missing:
        print(f"NOT REGISTERED: {missing}")
        return 1
    if keys:
        queries = {k: queries[k] for k in keys}
    # Targeted-rerun knob: skip ahead to a key (inclusive) so a fix for
    # a late-sweep failure can be validated in minutes instead of
    # replaying the full 75-minute sf1 sweep. A run that uses this is a
    # TAIL validation only — the recorded gate is always a full pass.
    skip_until = os.environ.get("MRSS_SKIP_UNTIL", "")
    bad, rows_only = [], []
    started = not skip_until
    for i, (key, fn) in enumerate(queries.items()):
        if not started:
            if key == skip_until:
                started = True
            else:
                continue
        if i and i % 40 == 0:
            # bound cached-block accumulation across the sweep; each
            # query's correctness is independent of cache residency
            spark.catalog.clearCache()
        t0 = _time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            sql = oracles.get(key)
            if sql is None:
                rows_only.append((key, df.count()))
            else:
                assert_parity(df, con, sql, key=key)
                assert_fetch_dtypes(df, con, sql, key=key)
            if verbose:
                print(f"[{i}] {key}: ok {_time.perf_counter() - t0:.1f}s",
                      flush=True)
        except Exception as exc:  # noqa: BLE001 - report, don't abort
            bad.append((key, str(exc)[:200]))
            if verbose:
                print(f"[{i}] {key}: BAD {_time.perf_counter() - t0:.1f}s",
                      flush=True)

    print(f"rows-only ({len(rows_only)}): {rows_only}")
    if bad:
        print(f"FAILED ({len(bad)}):")
        for key, msg in bad:
            print(f"  {key}: {msg}")
        return 1
    print(f"ALL {len(queries)} QUERIES OK ({len(queries) - len(rows_only)} oracle-exact)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
