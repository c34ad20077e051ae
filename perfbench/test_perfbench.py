"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The end-to-end cases start Spark (about 40 s each) at scale 0.001.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import corpus, workloads  # noqa: E402
from perfbench.trace import calibration_cpu_s  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_requests():
    assert workloads.request_sequence(3, 500) == workloads.request_sequence(3, 500)
    assert workloads.request_sequence(3, 500) != workloads.request_sequence(4, 500)
    # every whole block sends each key once
    n = len(workloads.SERVE_KEYS)
    seq = workloads.request_sequence(3, 50 * n)
    for b in range(50):
        assert sorted(seq[b * n:(b + 1) * n]) == sorted(workloads.SERVE_KEYS)


def test_same_seed_same_appended_days():
    day = corpus.EVENT_DAYS + 2
    assert corpus.event_day(5, 0.001, day) == corpus.event_day(5, 0.001, day)
    assert corpus.event_day(5, 0.001, day) != corpus.event_day(6, 0.001, day)
    ids = [json.loads(line)["event_id"] for line in corpus.event_day(5, 0.001, day).splitlines()]
    base = corpus.sizes(0.001)["events"]
    assert min(ids) >= base  # appended ids never collide with the base corpus


def test_same_seed_same_corpus(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    corpus.write_corpus(a, 9, 0.001)
    corpus.write_corpus(b, 9, 0.001)
    corpus.write_corpus(c, 10, 0.001)
    for name in ("lineitem", "events", "documents", "embeddings"):
        ta = pq.read_table(os.path.join(a, f"{name}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{name}.parquet")))
        assert not ta.equals(pq.read_table(os.path.join(c, f"{name}.parquet")))


def test_calibration_is_fixed_work():
    a, b = calibration_cpu_s(), calibration_cpu_s()
    assert a > 0 and b > 0
    assert 0.5 < a / b < 2  # the same work; only the core's speed moves it


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_run_is_correct_and_names_match(workload, trace):
    detail, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["ops_failed_frac"] == 0
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve-warm",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=tmp_path, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
