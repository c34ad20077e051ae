"""The workloads: what one operation is, its warm-up, and its check.

An operation (``op``) is the unit whose latency the benchmark reports:

- ``serve-warm``: one request, ``REGISTRY[k].fn(spark, sf).collect()``,
  in seeded blocks that send each of bench.py's headline keys once;
- ``dashboard-refresh``: one round — ingest one new seeded day of events
  (JSON lines → ``read_json`` → ``quantize_measures`` → append), refresh
  and read the ``matview_daily_rollup`` view, then ``run_shared`` over
  the dashboard batch.

Every workload keeps the rows of its last result per key so the oracle
check can run once per key after the timed loop.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
from collections import Counter

from perfbench import corpus

from mapreduce_server_spark import REGISTRY
from mapreduce_server_spark.operators import sources_ops
from mapreduce_server_spark.serving.scheduler import run_shared
from mapreduce_server_spark.sources import ingest

#: bench.py's seven headline keys. Every key adds a plan build and a
#: first execution to each of a run's set-ups, so the set stays at the
#: headline keys to keep a run near a minute
SERVE_KEYS = [
    "q1_pricing_summary",
    "q3_join_topk",
    "win_rownum_topk",
    "stream_tumbling",
    "text_wordcount",
    "knn_bruteforce",
    "dedup_exact",
]

MATVIEW_KEY = "matview_daily_rollup"
#: events and lineitem are each read by two keys, so both scans are shared
DASH_KEYS = [
    "stream_tumbling",
    "cohort_retention",
    "q1_pricing_summary",
    "q12_priority_class",
]


def requests(seed: int):
    """serve-warm's endless seeded request stream: blocks that hold each
    key once, each in a seeded order. There is no measured popularity of
    the keys, so they are weighed equally, as bench.py weighs them; whole
    blocks give every run and every seed the same mix (drawing requests
    independently would let the mix, and so the figures, differ)."""
    rng = random.Random(seed)
    while True:
        block = list(SERVE_KEYS)
        rng.shuffle(block)
        yield from block


def request_sequence(seed: int, n: int) -> list[str]:
    """The first ``n`` serve-warm requests for ``seed``."""
    return list(itertools.islice(requests(seed), n))


class Workload:
    name = ""
    #: operations per whole cycle; a run stops only at a cycle boundary
    cycle = 1
    min_cycles = 1
    #: untimed cycles between the set-ups and the timed ones
    warm_cycles = 1
    events_as_dir = False

    def __init__(self, seed: int, scale: float, work_dir: str) -> None:
        self.seed = seed
        self.scale = scale
        self.work = work_dir
        self.sf = os.path.join(work_dir, "corpus")
        #: key → (columns, rows) of the last result, for the oracle check
        self.results: dict[str, tuple[list[str], list]] = {}
        #: key → operations whose result depends on that key
        self.key_ops: Counter = Counter()

    def make_inputs(self) -> None:
        corpus.write_corpus(self.sf, self.seed, self.scale, self.events_as_dir)

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        """Drop state a warm-up built outside Spark, before the next set-up."""

    def before_op(self, spark, i: int) -> None:
        """Untimed preparation of operation ``i``."""

    def op(self, spark, i: int, tr) -> None:
        raise NotImplementedError

    def after_op(self, spark, i: int, tr) -> None:
        """Untimed extra work after a traced operation."""

    def final_rows(self, spark) -> dict[str, tuple[list[str], list]]:
        return self.results

    def _keep(self, key: str, df_cols, rows) -> None:
        self.results[key] = (list(df_cols), rows)
        self.key_ops[key] += 1


class ServeWarm(Workload):
    name = "serve-warm"
    cycle = len(SERVE_KEYS)
    #: a block's CPU fell by a quarter over its first 30 blocks after the
    #: set-ups while the JIT compiled, most of it in the first 15
    warm_cycles = 15

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self._requests = requests(self.seed)

    def warm_up(self, spark) -> None:
        for key in SERVE_KEYS:
            REGISTRY[key].fn(spark, self.sf).collect()

    def op(self, spark, i: int, tr) -> None:
        key = next(self._requests)
        spec = REGISTRY[key]
        if tr.enabled:
            from mapreduce_server_spark import registry

            before = len(registry._PLAN_CACHE)
            with tr.phase("registry.fn"):
                df = spec.fn(spark, self.sf)
            tr.stats["registry.calls"] += 1
            tr.stats["registry.hits"] += len(registry._PLAN_CACHE) == before
        else:
            df = spec.fn(spark, self.sf)
        with tr.phase("fetch", group="fetch"):
            rows = df.collect()
        if tr.enabled:
            tr.stats["fetch.rows"] += len(rows)
        self._keep(key, df.columns, rows)


class DashboardRefresh(Workload):
    name = "dashboard-refresh"
    events_as_dir = True
    #: two rounds at least, even when the host makes them slow
    min_cycles = 2
    #: the first rounds after the set-ups cost up to a fifth more CPU
    warm_cycles = 3

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.events_dir = os.path.join(self.sf, "events.parquet")
        self.incoming = os.path.join(self.work, "incoming")
        self._day_path = ""
        self._batch: dict[str, list] = {}

    def _matview_dir(self) -> str:
        return sources_ops._daily_rollup_view().path(self.sf)

    def warm_up(self, spark) -> None:
        # the view's first full materialization is set-up work: every later
        # round refreshes it incrementally
        REGISTRY[MATVIEW_KEY].raw_fn(spark, self.sf).collect()
        # one ingest into a side directory, so the corpus stays as made
        self._ingest(spark, self._write_day(corpus.EVENT_DAYS - 1),
                     os.path.join(self.work, "warm-up-day"), "overwrite")
        run_shared(spark, self.sf, DASH_KEYS)

    def reset(self) -> None:
        shutil.rmtree(self._matview_dir(), ignore_errors=True)

    def _write_day(self, day: int) -> str:
        os.makedirs(self.incoming, exist_ok=True)
        path = os.path.join(self.incoming, f"day-{day:04d}.jsonl")
        with open(path, "w") as f:
            f.write(corpus.event_day(self.seed, self.scale, day))
        return path

    @staticmethod
    def _ingest(spark, path: str, out: str, mode: str) -> None:
        day = ingest.read_json(spark, path, corpus.EVENTS_DDL)
        ingest.quantize_measures(day, ["value"]).write.mode(mode).parquet(out)

    def before_op(self, spark, i: int) -> None:
        self._day_path = self._write_day(corpus.EVENT_DAYS + i)

    def op(self, spark, i: int, tr) -> None:
        with tr.phase("ingest", group="ingest"):
            self._ingest(spark, self._day_path, self.events_dir, "append")
        if tr.enabled:
            tr.stats["days_appended"] += 1
        with tr.phase("matview", group="matview"):
            mv = REGISTRY[MATVIEW_KEY].raw_fn(spark, self.sf)
            with tr.phase("matview.read"):
                mv_rows = mv.collect()
        self._keep(MATVIEW_KEY, mv.columns, mv_rows)
        with tr.phase("scheduler.batch", group="scheduler"):
            self._batch, report = run_shared(spark, self.sf, DASH_KEYS)
        self.key_ops.update(DASH_KEYS)
        if tr.enabled:
            tr.stats["scheduler.used"] += sum(report.used_cache.values())
            tr.stats["scheduler.keys"] += len(report.used_cache)
            tr.stats["scheduler.shared_tables"] = len(report.shared_tables)

    def final_rows(self, spark) -> dict[str, tuple[list[str], list]]:
        # run_shared returns bare rows; the columns come from the memoized plan
        out = dict(self.results)
        for key, rows in self._batch.items():
            out[key] = (REGISTRY[key].fn(spark, self.sf).columns, rows)
        return out

    def after_op(self, spark, i: int, tr) -> None:
        # the same batch run key by key, unshared, for scheduler.share_speedup
        with tr.phase("scheduler.unshared", group="unshared"):
            for key in DASH_KEYS:
                REGISTRY[key].raw_fn(spark, self.sf).collect()


WORKLOADS = {w.name: w for w in (ServeWarm, DashboardRefresh)}
