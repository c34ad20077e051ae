#!/usr/bin/env python
"""Dump `.explain("formatted")` per registered key to one file each —
the round-13 plan-evidence harness (plans/r13/<key>_{before,after}.txt).

Usage: python tools/plan_capture.py OUTDIR SUFFIX [sf_dir] [key ...]
  e.g.  python tools/plan_capture.py plans/r13 before /root/testdata/sf0.1 q1_pricing_summary

No execution: the plan is built and physically planned but never run
(with AQE this is the initial plan — `AdaptiveSparkPlan isFinalPlan=false`),
which is exactly what the plan-shape evidence needs and keeps a capture
of all 311 keys to a few minutes.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mapreduce_server_spark import REGISTRY, registry  # noqa: E402
from mapreduce_server_spark.plans import plan_string  # noqa: E402
from mapreduce_server_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    keys = sys.argv[4:] or sorted(REGISTRY)
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark(app_name="mrss-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    for key in keys:
        plan = plan_string(registry.build_plan(spark, sf_dir, key))
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {key} @ {sf_dir} ({suffix})\n")
            f.write(plan)
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
