#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads, oracle-checked.

    python3 perfbench/run.py --workload serve-warm --seed 1 --seconds 8 --trace 0

Each run makes its own seeded corpus under ``.perfbench_work/``, launches
the JVM, sets up three times (a session from ``session.get_spark`` with
``SPARK_GRAFT_CPUS`` set to the cores this process may use, then the
workload's warm-up; before the second and third, the session is stopped
and the engine's module caches cleared), runs a few untimed cycles of
the workload's operations and then times them, from one client thread,
for ``--seconds``.
Afterwards every distinct key's last rows are checked against its DuckDB
oracle; an exception or a mismatch counts as a failed operation.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it stamps the environment (cores, load, sibling Spark
JVMs, ``bench.py``'s calibration loop) and carries per-key and
per-cycle detail.
perfbench/README.md defines every workload and metric.
"""

from __future__ import annotations

import argparse
import json
from collections import Counter
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve-warm", "dashboard-refresh")
SETUPS = 3
DEFAULT_SCALE = 0.01
#: ``trace.calibration_cpu_s`` on the reference core (an idle core of the
#: 4-vCPU Xeon virtual machine the bounds were set on): CPU figures are
#: scaled to that core's speed
REF_CAL_S = 0.007


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=DEFAULT_SCALE,
                   help="corpus scale factor (lineitem = 6M x scale)")
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Point every scratch path of Spark, the JVM and Python into ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    mem = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata file: HotSpot writes it under /tmp whatever java.io.tmpdir is
    # the JVM is launched before get_spark, so its heap size is given here.
    # JIT compiler threads stay up: one that ended would take the CPU it
    # used since it was last read into the application's count
    submit = ["--driver-memory", mem,
              "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem "
              "-XX:-UseDynamicNumberOfCompilerThreads"]
    if trace:
        # keep every job, stage and SQL execution for the per-group reads
        for conf in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                     "spark.sql.ui.retainedExecutions"):
            submit += ["--conf", f"{conf}=1000000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def clear_module_caches() -> None:
    """Forget every module-level memo of the engine (dicts named *CACHE*),
    so a restarted session sets up like a fresh process would."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("mapreduce_server_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if attr.startswith("_") and "CACHE" in attr and isinstance(val, dict):
                val.clear()


def stop_spark(spark) -> None:
    """Stop the session, if any, and the JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def measure(wl, spark, seconds: float, trace_run=None):
    """Run ``wl.warm_cycles`` untimed cycles, so the JIT has compiled the
    operations' code, then operations until ``seconds`` have passed and a
    cycle is whole.

    With ``trace_run``, every other cycle is traced (wrappers installed,
    Spark groups harvested after each operation) and at least two cycles
    run. Returns (untraced latencies, traced latencies, failed op ids,
    CPU seconds per operation of the process tree in each untraced cycle,
    and, without ``trace_run``, the calibration around each cycle: the
    mean of ``calibration_cpu_s`` taken, untimed, before and after it)."""
    from perfbench.trace import AppCpu, NoTrace, calibration_cpu_s

    plain, traced, failed = [], [], []
    cycle_cpu, cycle_cpu_s, app_cpu = [], 0.0, AppCpu()
    cals = []  # at every cycle boundary of an untraced run
    no_trace = NoTrace()
    start = wl.warm_cycles * wl.cycle
    for i in range(start):
        wl.before_op(spark, i)
        wl.op(spark, i, no_trace)
    wl.key_ops.clear()
    i = start
    deadline = time.perf_counter() + seconds
    while True:
        if trace_run is None and i % wl.cycle == 0:
            cals.append(calibration_cpu_s())
        tracing = trace_run is not None and ((i - start) // wl.cycle) % 2 == 1
        tr = trace_run if tracing else no_trace
        wl.before_op(spark, i)
        if tracing:
            trace_run.install()
            trace_run.mark_sql()
        app_cpu.start()
        t0 = time.perf_counter()
        try:
            with tr.phase("op", group="op"):
                wl.op(spark, i, tr)
        except Exception as e:
            failed.append(i)
            print(f"perfbench: op {i} failed: {e!r}"[:2000], file=sys.stderr)
        dt = time.perf_counter() - t0
        op_cpu_s = app_cpu.stop()
        if tracing:
            trace_run.uninstall()
            trace_run.harvest()
            wl.after_op(spark, i, trace_run)
            traced.append(dt)
        else:
            plain.append(dt)
            cycle_cpu_s += op_cpu_s
        i += 1
        if i % wl.cycle == 0 and not tracing:
            cycle_cpu.append(cycle_cpu_s / wl.cycle)
            cycle_cpu_s = 0.0
        if i % wl.cycle == 0 and time.perf_counter() >= deadline:
            min_cycles = max(wl.min_cycles, 1 if trace_run is None else 2)
            if (i - start) // wl.cycle >= min_cycles:
                break
    if trace_run is not None:
        trace_run.harvest(sql=False)  # groups of the last after_op
        return plain, traced, failed, cycle_cpu, []
    cals.append(calibration_cpu_s())
    cycle_cal = [(a + b) / 2 for a, b in zip(cals, cals[1:])]
    return plain, traced, failed, cycle_cpu, cycle_cal


def layer_metrics(wl, tr, n_ops: int, info: dict) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never reaches reads 0.

    Times and volumes are means per traced operation; ``*_entries``,
    ``cached_mb`` and ``disk_mb`` are states at the end of the run."""
    from perfbench.trace import MB
    from mapreduce_server_spark import registry
    from mapreduce_server_spark.operators import _memo
    from mapreduce_server_spark.sources import loader

    n = max(1, n_ops)
    T = tr.tracer.total
    st = tr.stats
    spark_all = Counter()
    for label, c in tr.by_label.items():
        if label != "unshared":
            spark_all.update(c)
    calls = st["registry.calls"]
    fetch_s = T("fetch")
    batch, unshared = T("scheduler.batch") / n, 0.0
    n_unshared = sum(1 for s in tr.tracer.spans if s[1] == "scheduler.unshared")
    if n_unshared:
        unshared = T("scheduler.unshared") / n_unshared
    return {
        "session.import_s": info["import_s"],
        "session.get_spark_s": info["get_spark_s"],
        "registry.fn_hit_ms": 1000.0 * T("registry.fn") / calls if calls else 0.0,
        "registry.plan_cache_hit_ratio": st["registry.hits"] / calls if calls else 0.0,
        "registry.plan_cache_entries": len(registry._PLAN_CACHE),
        "loader.load_table_ms": 1000.0 * T("loader.load_table") / n,
        "loader.scan_cache_entries": len(loader._SCAN_CACHE),
        "loader.input_mb": spark_all["input_bytes"] / MB / n,
        "loader.input_rows": spark_all["input_rows"] / n,
        "ingest.s": T("ingest") / n,
        "ingest.rows": tr.by_label.get("ingest", {}).get("output_rows", 0) / n,
        "operators.build_s": T("operators.build") / n,
        "operators.build_jobs": tr.by_label.get("build", {}).get("jobs", 0) / n,
        "operators.memo_entries": len(_memo._FRAME_CACHE),
        "plans.plan_s": T("plans.plan") / n,
        "plans.exchanges": st["plans.exchanges"] / n,
        "spark.jobs": spark_all["jobs"] / n,
        "spark.stages": spark_all["stages"] / n,
        "spark.tasks": spark_all["tasks"] / n,
        "spark.executor_run_s": spark_all["run_ms"] / 1e3 / n,
        "spark.executor_cpu_s": spark_all["cpu_ns"] / 1e9 / n,
        "spark.shuffle_write_mb": spark_all["shuffle_write"] / MB / n,
        "spark.shuffle_read_mb": spark_all["shuffle_read"] / MB / n,
        "spark.spill_mb": spark_all["spill"] / MB / n,
        "spark.sql_exec_ms": st["sql_ms"] / n,
        "spark.cached_mb": info["cached_peak_bytes"] / MB,
        "spark.output_mb": spark_all["output_bytes"] / MB / n,
        "fetch.ms": max(0.0, 1000.0 * fetch_s - st["sql_ms"]) / n if fetch_s else 0.0,
        "fetch.rows": st["fetch.rows"] / n,
        "scheduler.probe_s": T("scheduler.probe") / n,
        "scheduler.batch_s": batch,
        "scheduler.unshared_batch_s": unshared,
        "scheduler.share_speedup": unshared / batch if batch and unshared else 0.0,
        "scheduler.cache_used_ratio": (st["scheduler.used"] / st["scheduler.keys"]
                                       if st["scheduler.keys"] else 0.0),
        "scheduler.shared_tables": st["scheduler.shared_tables"],
        "matview.discovery_s": (T("matview.refresh") - T("matview.rebuild")) / n,
        "matview.rebuild_s": T("matview.rebuild") / n,
        "matview.read_s": T("matview.read") / n,
        "matview.rebuilt_per_appended": (st["matview.rebuilt"] / st["days_appended"]
                                         if st["days_appended"] else 0.0),
        "scratch.disk_mb": info["scratch_mb"],
        "trace.overhead_frac": info["overhead_frac"],
        "trace.untraced_p50_ms": info["untraced_p50_ms"],
        "jvm.peak_rss_mb": info["jvm_rss_mb"],
    }


def run(args, work: str) -> dict:
    configure_env(work, bool(args.trace))
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import pyspark  # noqa: F401
    import mapreduce_server_spark  # noqa: F401
    from mapreduce_server_spark.session import get_spark
    from mapreduce_server_spark.scratch import SCRATCH
    from perfbench import oracle, workloads
    from perfbench.trace import (AppCpu, CacheSampler, TraceRun, calibration_cpu_s,
                                 dir_mb, vm_hwm_mb)
    from pyspark import SparkContext

    import_s = time.perf_counter() - t0
    import_cpu_s = time.process_time()  # from process start
    import bench

    # environment stamp before the JVM exists (bench.py's own helpers)
    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": os.getloadavg()[0],
        "load5": os.getloadavg()[1],
        "sibling_spark": bench._sibling_spark_count(),
        "calibration_sec": bench._calibration_sec(),
    }

    wl = workloads.WORKLOADS[args.workload](args.seed, args.scale, work)
    wl.make_inputs()

    cpu = AppCpu()
    setups, setups_wall, spark = [], [], None
    setup_cals = [calibration_cpu_s()]  # before the launch and after each set-up
    try:
        cpu.start()
        t0 = time.perf_counter()
        SparkContext._ensure_initialized()  # the JVM launch
        launch_s = time.perf_counter() - t0
        launch_cpu_s = cpu.stop()
        for k in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()
                clear_module_caches()
                wl.reset()
            cpu.start()
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            if k == 0:
                get_spark_s = launch_s + time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            wl.warm_up(spark)
            setups_wall.append(time.perf_counter() - t0)
            setups.append(cpu.stop())
            setup_cals.append(calibration_cpu_s())

        trace_run = TraceRun(spark) if args.trace else None
        if trace_run is not None:
            with CacheSampler(spark.sparkContext) as sampler:
                plain, traced, failed, _, _ = measure(wl, spark, args.seconds, trace_run)
        else:
            plain, traced, failed, cycle_cpu, cycle_cal = measure(wl, spark, args.seconds)

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        py_rss, jvm_rss = vm_hwm_mb(), vm_hwm_mb(jvm_pid)
        scratch_mb = dir_mb(SCRATCH)

        bad = oracle.check(wl.sf, wl.final_rows(spark))
    finally:
        stop_spark(spark)

    for key, reason in sorted(bad.items()):
        print(f"perfbench: oracle mismatch on {key}: {reason}", file=sys.stderr)
    lat = plain + traced
    failed_ops = len(failed) + sum(wl.key_ops[k] for k in bad)
    attempted = len(lat)
    failed_ops = min(attempted, failed_ops)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "env": env,
        "import_cpu_s": import_cpu_s,
        "launch_cpu_s": launch_cpu_s,
        "setups_cpu_s": setups,
        "launch_wall_s": launch_s,
        "setups_wall_s": setups_wall,
        "ops_failed_frac": failed_ops / attempted,
        "oracle_failures": bad,
        "ops_per_key": dict(wl.key_ops),
    }
    if args.trace:
        overhead = (statistics.fmean(traced) / statistics.fmean(plain) - 1.0
                    if plain and traced else 0.0)
        info = {
            "import_s": import_s,
            "get_spark_s": get_spark_s,
            "cached_peak_bytes": sampler.peak_bytes,
            "scratch_mb": scratch_mb,
            "overhead_frac": overhead,
            "untraced_p50_ms": 1000.0 * statistics.median(plain),
            "jvm_rss_mb": jvm_rss,
        }
        values = layer_metrics(wl, trace_run, len(traced), info)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
        spans = os.path.join(ROOT, ".perfbench_out", f"spans-{trace_run.tracer.run_id}.jsonl")
        trace_run.tracer.dump(spans)
        detail["spans"] = os.path.relpath(spans, ROOT)
    else:
        # CPU at the reference core speed, like ref_cpu_ms_per_op:
        # wall-clock set-up moved with host load
        setup_cpu_s = import_cpu_s + launch_cpu_s + statistics.median(setups)
        setup_cal = statistics.median(setup_cals)
        # per cycle, so a slow spell of the host is scaled out where it fell
        ref_cycle = [c * REF_CAL_S / cal for c, cal in zip(cycle_cpu, cycle_cal)]
        metrics = {
            "setup_s": {"value": setup_cpu_s * REF_CAL_S / setup_cal, "unit": "s"},
            "ref_cpu_ms_per_op": {"value": 1000.0 * statistics.median(ref_cycle),
                                  "unit": "ms"},
        }
        detail["setup_cpu_s"] = setup_cpu_s
        detail["setup_cal_ms"] = [1000.0 * c for c in setup_cals]
        detail["setup_wall_s"] = import_s + launch_s + statistics.median(setups_wall)
        # not gated: wall-clock latency and RSS move with the host more
        # than the bounds allow, and a tail needs ten samples beyond it
        detail["op_p50_ms"] = 1000.0 * statistics.median(lat)
        detail["cpu_ms_per_op"] = 1000.0 * statistics.median(cycle_cpu)
        detail["cycle_cal_ms"] = [1000.0 * c for c in cycle_cal]
        detail["cycle_cpu_ms"] = [1000.0 * c for c in cycle_cpu]
        detail["ops_per_s"] = len(lat) / sum(lat)
        for q in (0.99, 0.95, 0.9):
            if len(lat) * (1 - q) >= 10:
                detail[f"op_p{round(q * 100)}_ms"] = 1000.0 * percentile(lat, q)
                break
        detail["peak_rss_mb"] = py_rss + jvm_rss
    print(json.dumps(detail, sort_keys=True))
    return {
        "correct": not failed_ops,
        "attempted": attempted,
        "failed": failed_ops,
        "metrics": metrics,
    }


def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name (``<layer>.<what>[.<key>]``)."""
    what = metric.split(".")[1]
    if what == "s" or what.endswith("_s"):
        return "s"
    if what == "ms" or what.endswith("_ms"):
        return "ms"
    if what.endswith("_mb"):
        return "MB"
    if what.endswith("rows"):
        return "rows"
    if what.endswith(("_ratio", "_frac", "_per_appended")):
        return "ratio"
    if what.endswith("speedup"):
        return "x"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mapreduce_server_spark")):
        print("perfbench: the engine package mapreduce_server_spark/ is not "
              f"beside {HERE}; run from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
