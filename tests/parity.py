"""Differential compare emulating the driver's t2 correctness gate:
row-count + column set + order-insensitive value multiset, compared EXACTLY
(no float tolerance) — stricter than any plausible driver hash, so queries
that pass here are safe under it.

:func:`run_keys` is the one loop that builds keys and compares each with
its DuckDB oracle: the degenerate-fixture sweeps, ``tools/driver_sim.py``
and the mutation audit's child all call it with their own builders. With
a ``log`` it appends one JSON line per finished key, and a rerun over the
same log skips the keys already there, so a killed sweep resumes instead
of starting over.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import json
import math
import os
import time
from collections import Counter

from py4j.protocol import Py4JNetworkError

from mapreduce_server_spark import REGISTRY, cache


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        v = v.to_pydatetime()
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        if v == 0.0:
            return ("f", 0.0)  # -0.0 == 0.0
        return ("f", v)
    if isinstance(v, decimal.Decimal):
        return ("f", float(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat(timespec="microseconds"))
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, bytes):
        return ("y", v)
    if isinstance(v, (list, tuple)):
        return ("a",) + tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return ("m",) + tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(row[i]) for i in order) for row in rows)


def _pd_kind(dtype) -> str:
    k = getattr(dtype, "kind", "O")
    return "i" if k in "iu" else k


def assert_fetch_dtypes(spark_df, duck_con, sql: str, key: str = "?") -> None:
    """Guard against driver fetch-path dtype drift that fetchall() hides.

    The driver hashes *pandas/arrow-fetched* values on both sides. DuckDB
    types a sum of integers as HUGEINT (and a windowed sum likewise), which
    survives ``fetchall()`` as a Python int — passing the value compare —
    but degrades to float64 in the pandas fetch, while Spark's long stays
    int64: the driver hash then fails on 4 vs 4.0 even though values are
    identical (round-2 `concurrency_peak` red row). Compare the
    pandas-fetched numeric kind per column on both engines and fail any
    int-vs-float divergence loudly.
    """
    spd = spark_df.toPandas()
    dpd = duck_con.execute(sql).df()
    for c in spd.columns:
        if c not in dpd.columns:
            continue  # column-set mismatch is assert_parity's job
        sk, dk = _pd_kind(spd[c].dtype), _pd_kind(dpd[c].dtype)
        if {sk, dk} == {"i", "f"}:
            raise AssertionError(
                f"[{key}] fetched-dtype mismatch on '{c}': spark kind "
                f"'{sk}' ({spd[c].dtype}) vs duckdb kind '{dk}' "
                f"({dpd[c].dtype}) — likely an un-cast integer sum "
                f"(DuckDB HUGEINT→float64). Add ::BIGINT in the oracle."
            )


def assert_parity(spark_df, duck_con, sql: str, key: str = "?") -> int:
    """Fail unless ``spark_df`` equals ``sql``'s rows; returns the row count."""
    srows = spark_df.collect()
    scols = list(spark_df.columns)
    cur = duck_con.execute(sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()

    assert sorted(scols) == sorted(dcols), (
        f"[{key}] column mismatch: spark={sorted(scols)} duck={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"[{key}] row count mismatch: spark={len(srows)} duck={len(drows)}"
    )
    sm = _multiset(scols, [tuple(r) for r in srows])
    dm = _multiset(dcols, drows)
    if sm != dm:
        only_s = list((sm - dm).items())[:5]
        only_d = list((dm - sm).items())[:5]
        raise AssertionError(
            f"[{key}] value mismatch.\n  spark-only (≤5): {only_s}\n  duck-only (≤5): {only_d}"
        )
    return len(srows)


#: DuckDB's units in ``current_setting('memory_limit')``, e.g. '12.5 GiB'
_DUCK_UNITS = {"bytes": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
#: the oracle's memory cap in bytes (32 GB); it only ever lowers DuckDB's default
_ORACLE_MEMORY = 32 * 10**9


def memory_limit_bytes(con) -> int:
    n, unit = con.execute("SELECT current_setting('memory_limit')").fetchone()[0].split()
    return int(float(n) * _DUCK_UNITS[unit])


def oracle_duck(sf_dir: str):
    """The runner's oracle: ``conftest.make_duck`` views over ``sf_dir``
    that spill to a process-owned scratch directory (an in-memory DuckDB
    cannot offload without one, and sf1-size window/list aggregates need
    it), with the memory limit at min(32 GB, DuckDB's default of ~80% of
    RAM). The cap is not sufficient for every operator: DuckDB 1.0's
    min(STRUCT) aggregate state bypasses the buffer manager, so such an
    oracle must be written in a scalable spelling instead (ARCHITECTURE,
    "struct-min cliff")."""
    from mapreduce_server_spark.scratch import SCRATCH, owned

    from .conftest import make_duck

    con = make_duck(sf_dir)
    spill = owned(os.path.join(SCRATCH, f"duck_spill_p{os.getpid()}"))
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    if memory_limit_bytes(con) > _ORACLE_MEMORY:
        con.execute(f"SET memory_limit='{_ORACLE_MEMORY}B'")
    return con


def _logged(log: str, sf_dir: str) -> dict[str, dict]:
    """Key → record of every complete line of ``log``. A last line cut
    short by a kill is cut off the file, so its key runs again and the
    next append starts a line of its own."""
    if not os.path.exists(log):
        return {}
    with open(log, "rb+") as f:
        data = f.read()
        end = data.rfind(b"\n") + 1
        f.truncate(end)
    done = {}
    for line in data[:end].decode("utf-8").splitlines():
        rec = json.loads(line)
        if rec["sf_dir"] != sf_dir:
            raise ValueError(f"{log} logs keys of {rec['sf_dir']}, not {sf_dir}")
        done[rec["key"]] = rec
    return done


def _check(spark, sf_dir: str, key: str, build, con) -> int:
    df = build(spark, sf_dir)
    sql = REGISTRY[key].oracle
    if sql is None:  # the driver falls back to a rows-only check
        return df.count()
    rows = assert_parity(df, con, sql, key)
    # the driver's fetch path: DuckDB HUGEINT→float64 drift that the
    # fetchall()-based value compare cannot see (round-2 concurrency_peak)
    assert_fetch_dtypes(df, con, sql, key)
    return rows


def run_keys(spark, sf_dir: str, builds: dict, log: str | None = None) -> dict[str, str]:
    """Build every key of ``builds`` (key → ``fn(spark, sf_dir)``) and
    compare it with its oracle (parity, then fetch dtypes; a key without
    one is counted). Returns key → ``"<Type>: <message[:200]>"`` for each
    key that failed; a failure never stops the loop, but a lost
    connection to the JVM does (it raises). The Spark cache and
    the package's cached frames are cleared every 40 keys and after the
    last, bounding what a long sweep holds.

    With ``log``, one flushed JSON line (key, sf_dir, failure, rows, s)
    is appended per finished key; the keys the log already holds are
    skipped and their failures merged into the result. A log of another
    ``sf_dir`` raises."""
    where = os.path.abspath(sf_dir)
    done = _logged(log, where) if log else {}
    failures = {k: r["failure"] for k, r in done.items() if k in builds and r["failure"]}
    todo = [k for k in builds if k not in done]
    if done:
        print(f"resumed: {len(builds) - len(todo)} of {len(builds)} keys in {log}", flush=True)
    with (open(log, "a", encoding="utf-8") if log else contextlib.nullcontext()) as sink, \
            contextlib.closing(oracle_duck(sf_dir)) as con:
        for i, key in enumerate(todo, 1):
            t0 = time.perf_counter()
            failure = rows = None
            try:
                rows = _check(spark, sf_dir, key, builds[key], con)
            except (ConnectionError, Py4JNetworkError):
                # the JVM is gone: logging every later key as failed in
                # 0 s would make a rerun skip them; stop, so it resumes here
                raise
            except Exception as e:  # noqa: BLE001 - report, don't abort
                failure = failures[key] = f"{type(e).__name__}: {str(e)[:200]}"
            s = round(time.perf_counter() - t0, 3)
            print(f"[{i}/{len(todo)}] {key}: {'BAD' if failure else 'ok'} rows={rows} {s}s",
                  flush=True)
            if log:
                sink.write(json.dumps({"key": key, "sf_dir": where, "failure": failure,
                                       "rows": rows, "s": s}) + "\n")
                sink.flush()
            if i % 40 == 0 or i == len(todo):
                # each key's result is independent of cache residency
                spark.catalog.clearCache()
                cache.clear_frames()
    return failures
