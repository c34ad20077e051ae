"""The core differential gate: every registered query vs its DuckDB oracle
at sf0.01 — exactly what the driver's t2 check does, but stricter (exact
value equality, no hash)."""

from __future__ import annotations

import dataclasses
import json
import os
import signal
import subprocess
import sys
import time

import duckdb
import pytest

from mapreduce_server_spark import REGISTRY

from .conftest import SF001, SF0001
from .parity import (assert_fetch_dtypes, assert_parity, memory_limit_bytes, oracle_duck,
                     run_keys)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KEYS = sorted(REGISTRY)


def test_registry_nonempty():
    assert len(REGISTRY) >= 1


@pytest.mark.parametrize("key", KEYS)
def test_parity(spark, duck, key):
    spec = REGISTRY[key]
    df = spec.fn(spark, SF001)
    if spec.oracle is None:
        # driver falls back to a rows-only check for these
        assert df.count() >= 0
        return
    assert_parity(df, duck, spec.oracle, key=key)
    # driver fetch-path twin: catches DuckDB HUGEINT→float64 drift that
    # fetchall()-based value compare cannot see (round-2 concurrency_peak)
    assert_fetch_dtypes(df, duck, spec.oracle, key=key)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert len(df.collect()) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


#: cheap sf0.001 keys for the runner's own tests
CHEAP = ("agg_group", "filter_pred", "limit_n", "q1_pricing_summary", "scalar_math")


def _lines(log) -> list[dict]:
    text = log.read_text()
    assert text.endswith("\n")
    return [json.loads(line) for line in text.splitlines()]


def _recording(built: list, key: str):
    def build(spark, sf_dir):
        built.append(key)
        return REGISTRY[key].raw_fn(spark, sf_dir)
    return build


def test_run_keys_resumes_from_its_log(spark, tmp_path, monkeypatch):
    a, b = CHEAP[:2]
    log = tmp_path / "keys.jsonl"
    planted = {"key": a, "sf_dir": SF0001, "failure": "planted", "rows": None, "s": 0.0}
    log.write_text(json.dumps(planted) + "\n" + json.dumps({"key": b})[:9])

    def logged_key_built_again(spark, sf_dir):
        raise AssertionError(f"{a} is in the log and was built again")

    monkeypatch.setitem(REGISTRY, a, dataclasses.replace(REGISTRY[a], fn=logged_key_built_again))
    built = []
    builds = {a: REGISTRY[a].fn, b: _recording(built, b)}
    assert run_keys(spark, SF0001, builds, log=str(log)) == {a: "planted"}
    assert built == [b]
    lines = _lines(log)
    assert [r["key"] for r in lines] == [a, b]
    assert lines[1]["failure"] is None and lines[1]["rows"] > 0


def test_run_keys_refuses_a_log_of_another_sf_dir(spark, tmp_path):
    log = tmp_path / "keys.jsonl"
    log.write_text(json.dumps({"key": CHEAP[0], "sf_dir": SF001, "failure": None}) + "\n")
    with pytest.raises(ValueError, match="sf0.01"):
        run_keys(spark, SF0001, {k: REGISTRY[k].raw_fn for k in CHEAP}, log=str(log))


def test_run_keys_reports_a_failing_key_and_runs_the_next(spark, monkeypatch):
    a, b = CHEAP[:2]
    monkeypatch.setitem(REGISTRY, a, dataclasses.replace(REGISTRY[a], oracle="SELECT 1 AS x"))
    built = []
    bad = run_keys(spark, SF0001, {a: REGISTRY[a].raw_fn, b: _recording(built, b)})
    assert list(bad) == [a]
    assert bad[a].startswith(f"AssertionError: [{a}] column mismatch")
    assert built == [b]


def test_run_keys_stops_when_the_jvm_is_gone(spark, tmp_path):
    a, b = CHEAP[:2]
    log = tmp_path / "keys.jsonl"

    def jvm_gone(spark, sf_dir):
        raise ConnectionRefusedError(111, "Connection refused")

    with pytest.raises(ConnectionRefusedError):
        run_keys(spark, SF0001, {a: REGISTRY[a].raw_fn, b: jvm_gone,
                                 "limit_n": REGISTRY["limit_n"].raw_fn}, log=str(log))
    assert [r["key"] for r in _lines(log)] == [a]


def test_oracle_memory_limit_never_exceeds_duckdb_default():
    assert memory_limit_bytes(oracle_duck(SF0001)) <= memory_limit_bytes(duckdb.connect())


def test_driver_sim_resumes_after_a_kill(tmp_path):
    """SIGKILL tools/driver_sim.py once its log has a line; the rerun
    over the same log finishes the rest, one line per key."""
    log = tmp_path / "keys.jsonl"
    cmd = [sys.executable, os.path.join(REPO, "tools", "driver_sim.py"), SF0001,
           *CHEAP, "--log", str(log)]
    env = dict(os.environ, MRSS_MASTER="local[2]", MRSS_DRIVER_MEM="1g")
    # own process group: the kill takes the Spark JVM down with it
    proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, start_new_session=True)
    deadline = time.monotonic() + 60
    while proc.poll() is None and not (log.exists() and log.read_text().count("\n")):
        assert time.monotonic() < deadline, "driver_sim logged no key in 60 s"
        time.sleep(0.05)
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    done = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True, text=True,
                          timeout=120)
    assert done.returncode == 0, done.stdout[-2000:] + done.stderr[-2000:]
    assert "resumed:" in done.stdout
    assert f"ALL {len(CHEAP)} QUERIES OK" in done.stdout
    assert sorted(r["key"] for r in _lines(log)) == sorted(CHEAP)
