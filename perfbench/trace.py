"""Traced-run instruments: in-memory spans plus Spark's own counters.

Nothing here changes program code. Layers are timed from outside:

- ``TraceRun.phase`` opens a span around one of the benchmark's own calls
  (``spec.fn``, ``collect``, ``run_shared`` …) and, when asked, a Spark
  job group of its own, so Spark's status store can be read per phase;
- ``TraceRun.install`` swaps public entry points for spanned wrappers for
  the length of one traced operation — ``loader.load_table`` wherever a
  module holds it, ``scheduler.table_usage``, the ``MaterializedView``
  methods, and the ``raw_fn`` of every registry spec without side effects
  (plan build, then the fresh plan forced through ``plans.plan_string``)
  — and ``uninstall`` puts every original back.

Spans hold a name, start, end and parent, share one run id and stay in
memory; ``Tracer.dump`` writes them once, when the run ends.
"""

from __future__ import annotations

import dataclasses
import json
import os
import random
import sys
import threading
import time
import uuid
from collections import Counter

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        #: (id, name, start, end, parent id or -1)
        self.spans: list[tuple[int, str, float, float, int]] = []
        self._stack: list[int] = []

    def open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((sid, name, time.perf_counter(), 0.0, parent))
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self._stack.remove(sid)
        s = self.spans[sid]
        self.spans[sid] = (s[0], s[1], s[2], time.perf_counter(), s[4])

    def total(self, name: str) -> float:
        """Seconds in spans called ``name``; a span nested in another span
        of the same name is not counted twice."""
        tot = 0.0
        for _, n, t0, t1, parent in self.spans:
            if n != name:
                continue
            p = parent
            while p != -1 and self.spans[p][1] != name:
                p = self.spans[p][4]
            if p == -1:
                tot += t1 - t0
        return tot

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, name, t0, t1, parent in self.spans:
                f.write(json.dumps({"run": self.run_id, "id": sid, "name": name,
                                    "start": t0, "end": t1, "parent": parent}) + "\n")


class _Null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class NoTrace:
    """Stand-in for ``TraceRun`` on untraced operations: every hook is free."""

    enabled = False
    _NULL = _Null()

    def phase(self, name: str, group: str | None = None):
        return self._NULL


class _Phase:
    def __init__(self, run: "TraceRun", name: str, group: str | None):
        self.run, self.name, self.group = run, name, group

    def __enter__(self):
        run = self.run
        if self.group is not None:
            gid = f"pb{len(run.groups)}-{self.group}"
            run.groups.append((self.group, gid))
            run.group_stack.append(gid)
            run.sc.setJobGroup(gid, self.name)
        self.sid = run.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        run = self.run
        run.tracer.close(self.sid)
        if self.group is not None:
            run.group_stack.pop()
            run.sc.setJobGroup(run.group_stack[-1] if run.group_stack else "pb-idle", "")
        return False


class TraceRun:
    """Spans, per-phase Spark job groups and the wrappers of one traced run."""

    enabled = True

    def __init__(self, spark) -> None:
        self.tracer = Tracer()
        self.spark = spark
        self.sc = spark.sparkContext
        #: every (label, job group id) opened; harvested groups stay listed
        self.groups: list[tuple[str, str]] = []
        self.group_stack: list[str] = []
        self._harvested = 0
        #: Spark totals per phase label, summed over the run
        self.by_label: dict[str, Counter] = {}
        self.stats: Counter = Counter()
        self._patches: list[tuple[object, str, object]] = []
        self._specs: dict = {}
        self._sql_since = 0

    def phase(self, name: str, group: str | None = None):
        return _Phase(self, name, group)

    # -- wrappers -------------------------------------------------------
    def _wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        run = self

        def wrapped(*a, **kw):
            with run.phase(name):
                out = orig(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def _wrap_raw_fn(self, spec):
        from mapreduce_server_spark.plans.explain import plan_string

        run = self
        orig = spec.raw_fn

        def raw_fn(spark, sf_dir):
            with run.phase("operators.build", group="build"):
                df = orig(spark, sf_dir)
            with run.phase("plans.plan", group="plan"):
                plan = plan_string(df, "simple")
            run.stats["plans.exchanges"] += plan.count("Exchange ")
            return df

        return dataclasses.replace(spec, raw_fn=raw_fn)

    def install(self) -> None:
        from mapreduce_server_spark import REGISTRY
        from mapreduce_server_spark.serving import matview, scheduler
        from mapreduce_server_spark.sources import loader

        load_table = loader.load_table
        for name, mod in list(sys.modules.items()):
            if name.startswith("mapreduce_server_spark") and getattr(mod, "load_table", None) is load_table:
                self._wrap(mod, "load_table", "loader.load_table")
        self._wrap(scheduler, "table_usage", "scheduler.probe")
        mv = matview.MaterializedView
        self._wrap(mv, "refresh", "matview.refresh")
        self._wrap(mv, "rebuild", "matview.rebuild",
                   on_result=lambda keys: self.stats.update({"matview.rebuilt": len(keys)}))
        self._wrap(mv, "read", "matview.read")
        # side-effecting keys (the matview refresh) are timed by their own
        # phases: their "build" is the write
        self._specs = {k: s for k, s in REGISTRY.items() if "side_effects" not in s.tags}
        for key, spec in self._specs.items():
            REGISTRY[key] = self._wrap_raw_fn(spec)

    def uninstall(self) -> None:
        from mapreduce_server_spark import REGISTRY

        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        REGISTRY.update(self._specs)
        self._specs = {}

    # -- Spark status store ----------------------------------------------
    def mark_sql(self) -> None:
        self._sql_since = sql_store(self.spark).executionsCount()

    def harvest(self, sql: bool = True) -> dict[str, Counter]:
        """Spark totals of the groups opened since the last harvest and,
        with ``sql``, the SQL execution time since the last ``mark_sql``."""
        drain_listener(self.sc)
        out: dict[str, Counter] = {}
        for label, gid in self.groups[self._harvested:]:
            out.setdefault(label, Counter()).update(spark_totals(self.sc, gid))
        self._harvested = len(self.groups)
        for label, c in out.items():
            self.by_label.setdefault(label, Counter()).update(c)
        if sql:
            self.stats["sql_ms"] += sql_exec_ms(self.spark, self._sql_since)
        return out


def drain_listener(sc) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status store holds the final metrics of the jobs that just ended."""
    bus = sc._jsc.sc().listenerBus()
    try:
        bus.waitUntilEmpty(10_000)
    except Exception:
        bus.waitUntilEmpty()


def spark_totals(sc, group: str) -> Counter:
    """Jobs, stages, tasks and summed stage metrics of one job group."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    tot: Counter = Counter()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        tot["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if str(st.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["run_ms"] += st.executorRunTime()
            tot["cpu_ns"] += st.executorCpuTime()
            tot["shuffle_write"] += st.shuffleWriteBytes()
            tot["shuffle_read"] += st.shuffleReadBytes()
            tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["input_bytes"] += st.inputBytes()
            tot["input_rows"] += st.inputRecords()
            tot["output_bytes"] += st.outputBytes()
            tot["output_rows"] += st.outputRecords()
    return tot


def sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def sql_exec_ms(spark, since: int) -> float:
    """Summed wall of the root SQL executions numbered ≥ ``since``."""
    store = sql_store(spark)
    n = store.executionsCount()
    total = 0.0
    if n > since:
        seq = store.executionsList(since, n - since)
        for i in range(seq.size()):
            e = seq.apply(i)
            if e.rootExecutionId() != e.executionId():
                continue
            done = e.completionTime()
            if done.isDefined():
                total += done.get().getTime() - e.submissionTime()
    return total


class CacheSampler:
    """Peak bytes held in Spark's block-manager cache, polled on a
    background thread while the traced run lasts."""

    def __init__(self, sc, period_s: float = 0.2) -> None:
        self._sc = sc
        self._period = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            try:
                infos = self._sc._jsc.sc().getRDDStorageInfo()
                b = sum(i.memSize() + i.diskSize() for i in infos)
            except Exception:
                return
            self.peak_bytes = max(self.peak_bytes, b)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")

#: JVM runtime threads (JIT compilers, garbage collectors, VM housekeeping)
#: by their kernel thread name; their CPU depends on how far the JIT has
#: got and on heap state, not on the work the program was asked to do
_RUNTIME_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ",
                    "VM Thread", "VM Periodic", "Sweeper")


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


class AppCpu:
    """CPU seconds a stretch of code costs this process and its
    descendants (the JVM, Spark's Python workers), without the JVM's
    runtime threads. Unlike wall time, it does not grow while the host
    runs other guests::

        cpu = AppCpu()
        cpu.start()
        ...
        seconds = cpu.stop()

    This process's share is ``time.process_time()`` taken right around
    the code, so the reader's own scans of /proc fall outside it. A
    descendant's share is its ticks plus those of its ended and reaped
    children (the JVM's launcher, finished Python workers), less the
    ticks of its runtime threads; a runtime thread that ends keeps the
    last value read for it."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self._pids: set[int] = set()
        #: (pid, tid) → runtime thread?  /  last ticks of runtime threads
        self._is_runtime: dict[tuple[int, int], bool] = {}
        self._runtime: dict[tuple[int, int], int] = {}
        self._c0 = self._p0 = 0.0

    def start(self) -> None:
        self._c0 = self._descendants_s()
        self._p0 = time.process_time()

    def stop(self) -> float:
        own = time.process_time() - self._p0
        return own + self._descendants_s() - self._c0

    def _find_descendants(self) -> None:
        tree = self._pids | {self.root}
        found = True
        while found:
            found = False
            for entry in os.listdir("/proc"):
                if entry.isdigit() and int(entry) not in tree:
                    st = _stat(f"/proc/{entry}/stat")
                    if st is not None and int(st[1][1]) in tree:
                        tree.add(int(entry))
                        found = True
        self._pids = tree - {self.root}

    def _descendants_s(self) -> float:
        self._find_descendants()
        ticks = 0
        for pid in list(self._pids):
            st = _stat(f"/proc/{pid}/stat")
            if st is None:
                # reaped: its ticks are in its parent's children's ticks now
                self._pids.discard(pid)
                continue
            # after the name: state ppid … utime stime cutime cstime (11-14)
            ticks += sum(int(v) for v in st[1][11:15])
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in map(int, tids):
                key = (pid, tid)
                runtime = self._is_runtime.get(key)
                if runtime is False:
                    continue
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is None:
                    continue
                if runtime is None:
                    runtime = st[0].startswith(_RUNTIME_THREADS)
                    self._is_runtime[key] = runtime
                if runtime:
                    self._runtime[key] = int(st[1][11]) + int(st[1][12])
        return (ticks - sum(self._runtime.values())) * _TICK_S


_CAL_KEYS = random.Random(0).sample(range(1 << 30), 20_000)


def calibration_cpu_s() -> float:
    """CPU seconds this thread takes for a fixed piece of work (hashing
    20k integers into a dict, then sorting them; about 7 ms on an idle
    core of a 4-vCPU Xeon virtual machine), the median of three tries.

    The program's CPU time per operation is not a constant of the code:
    on a virtual machine whose host is busy, a core runs slower (a busy
    hyperthread sibling, a shared cache, a lower clock) and the same
    work costs more CPU seconds, up to 1.8 times as many. This loop runs
    on the same cores at the same moment; dividing a CPU figure by it
    takes the core's speed out of that figure."""
    runs = []
    for _ in range(3):
        t0 = time.thread_time()
        d = {}
        for k in _CAL_KEYS:
            d[k * 2654435761 & 0xFFFFFFFF] = k
        sorted(d)
        runs.append(time.thread_time() - t0)
    return sorted(runs)[1]


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / MB
