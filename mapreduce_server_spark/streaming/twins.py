"""Structured Streaming forms of the cat. I batch operators.

The correctness gate grades the batch forms (operators/events_batch.py).
The stateless operators there are shared by construction: each is one
frame → frame builder (``hourly_totals``, ``user_hourly_totals``,
``sliding_counts``, ``click_purchase_pairs``) that the registry key
applies to the events table and the streaming form applies to
:func:`events_stream` watermarked on ``ts`` (SURVEY.md §3.3), so they
have no copy here.

The twins in this module differ from their batch keys by design, and
each docstring names its key: ``session`` (native ``session_window``
for ``stream_session``'s lag/running-sum form), ``dedup``
(``dropDuplicatesWithinWatermark`` on event_id, which is not
``stream_dedup``'s ordered pick), and the ``applyInPandasWithState``
folds, whose per-key state replaces the batch form's full re-scan.

Late-data policy: ``withWatermark(ts, delay)`` bounds state — aggregates
drop events older than (max seen ts − delay); tests/test_streaming.py
feeds out-of-order micro-batches through a file source and asserts the
drop actually happens.

Scale notes: micro-batch state lives in the state store keyed by
(window, group); watermarks are what keep 100 TB/day streams bounded —
every twin here whose state is keyed by event time sets one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..functions.numeric import dsum
from ..sources.loader import _normalize_events_ts, ensure_confs


def events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events with the same ts normalization as the
    batch loader (:func:`~..sources.loader._normalize_events_ts`).

    A file stream must declare its schema up front, and the fixture's
    ``ts`` storage encoding has drifted across driver regenerations
    (int64-nanos → TIMESTAMP(MICROS)), so we sniff the storage schema
    with a one-off batch read of the directory (metadata-only — no data
    scan) instead of hardcoding either encoding."""
    ensure_confs(spark)
    if not os.path.isdir(path):
        raise ValueError("file stream source requires a directory of files")
    storage_schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(storage_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    return _normalize_events_ts(df)


def session(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming twin of stream_session via native session windows
    (gap-merge semantics match the batch lag/running-sum form)."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_seconds(F.col("w.start")).alias("start_s"),
            F.unix_seconds(F.col("w.end")).alias("end_s"),
            "n_events",
            "sum_value",
        )
    )


def dedup(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate event_ids while their window is inside the
    watermark (bounded dedup state). The batch key nearest to it,
    ``stream_dedup``, differs: it keeps the earliest row per
    (user_id, event_type)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    checkpoint: str | None = None,
):
    """Drain all available input into an in-memory sink table; returns the
    finished query (tests then read ``spark.table(name)``). Passing a
    checkpoint dir makes successive runs resume offsets + watermark —
    how tests feed deterministic micro-batch sequences."""
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def run_collect(df: DataFrame, output_mode: str, checkpoint: str) -> list:
    """Drain available input via foreachBatch, collecting every emitted row
    driver-side. Unlike the memory sink, foreachBatch supports checkpoint
    recovery in append/update mode — successive calls with the same
    checkpoint resume offsets AND the persisted watermark."""
    out: list = []

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        out.extend(batch_df.collect())

    q = (
        df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def first_seen_users(stream: DataFrame) -> DataFrame:
    """Custom per-key stateful operator (SURVEY §2.I stream_stateful):
    emit each user exactly once, on first sight, with their first-seen
    day — the streaming half of stream_running_users (whose batch form
    aggregates these rows into the cumulative curve).

    State per user is one boolean+date row in the state store; watermark
    isn't needed because state is O(distinct users) and never evicted —
    the bounded-state analysis a custom stateful op must do explicitly
    (ARCHITECTURE.md §7).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdf_iter, state: GroupState):
        min_day = None
        for pdf in pdf_iter:
            day = pdf["ts"].dt.date.min()
            min_day = day if min_day is None else min(min_day, day)
        if not state.exists:
            state.update((str(min_day),))
            yield pd.DataFrame(
                {"user_id": [key[0]], "first_day": [str(min_day)]}
            )

    return (
        stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id BIGINT, first_day STRING",
            stateStructType="first_day STRING",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


#: the state-store provider for keyed state at scale: 100 TB/day of
#: state outgrows the default in-heap store; RocksDB keeps it off-heap
#: with incremental-checkpoint uploads
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def user_totals(stream: DataFrame) -> DataFrame:
    """Per-user cumulative (count, sum) via ``applyInPandasWithState``.
    Emits one row per (user, micro-batch) with the running totals after
    that batch — the canonical per-key incremental-aggregate stateful op.
    No registry key grades it; its batch form is a per-user count and
    cents sum (``test_stateful_running_totals_on_rocksdb``).

    Value discipline: the running sum accumulates on the DECIMAL(18,2)
    grid (as ints of cents) in state, mirroring the batch forms'
    exact-decimal sums.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def totals(key, pdf_iter, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # exact: value is 2-decimal money-style, so per-element ×100
            # rounds to the true integer cents before summing
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            totals,
            outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
            stateStructType="n BIGINT, cents BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def ewma(stream: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Streaming twin of ``ts_ewma``: per-user recursive EWMA carried in
    the state store (state = the single smoothed double + event count),
    emitting the updated value once per (user, micro-batch).

    Fold discipline mirrors the batch op exactly: within each batch rows
    are sorted by (ts, event_id) before folding, and with in-order
    sources (file order here; a partitioned log's per-key order in
    production) the cross-batch fold concatenates to the batch fold —
    ``test_ewma_twin_matches_batch`` asserts bit-equality with α = 0.5
    (exact halvings ⇒ one identically rounded add per step). State is
    O(1) per user — this is why the recursive form streams while the
    order-free window form does not."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            s, n = state.get
        else:
            s, n = None, 0
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            for x in pdf["value"]:
                s = float(x) if s is None else float(x) * alpha + s * (1.0 - alpha)
            n += len(pdf)
            state.update((float(s), int(n)))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "ewma_last": [s]}
            )

    return (
        stream.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType="user_id BIGINT, n_events BIGINT, ewma_last DOUBLE",
            stateStructType="s DOUBLE, n BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def holt(stream: DataFrame) -> DataFrame:
    """Streaming twin of ``ts_holt``: per-user (level, trend) state
    carried across micro-batches — the second-order companion of the
    scalar ``ewma`` twin, proving the struct-state form streams too
    (state = two doubles + a count, O(1) per user).

    Fold discipline mirrors the batch op exactly: rows sorted by
    (ts, event_id) within the batch, seed (l₁=x₁, b₁=0), α = β = 0.5 so
    every multiply is exact and the adds associate identically —
    ``test_holt_twin_matches_batch`` asserts bit-equality against
    ts_holt's F.aggregate struct fold."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            level, trend, n = state.get
        else:
            level, trend, n = None, 0.0, 0
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            for x in pdf["value"]:
                x = float(x)
                if level is None:
                    level, trend = x, 0.0
                else:
                    new_level = x * 0.5 + (level + trend) * 0.5
                    trend = (new_level - level) * 0.5 + trend * 0.5
                    level = new_level
            n += len(pdf)
            state.update((float(level), float(trend), int(n)))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "level_last": [level],
                    "trend_last": [trend],
                }
            )

    return (
        stream.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=(
                "user_id BIGINT, n_events BIGINT,"
                " level_last DOUBLE, trend_last DOUBLE"
            ),
            stateStructType="l DOUBLE, b DOUBLE, n BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_timer(stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Timer-based sessionization via ``applyInPandasWithState`` +
    EventTimeTimeout — the custom-stateful form of `session` (batch key
    ``stream_session``), and the pattern the native session_window
    cannot express variations of (per-session enrichment, mid-session
    emission, dynamic gaps).

    Per user the state is the open session (start_us, last_us, n,
    cents). A new event either extends it or — if the gap exceeds
    ``gap_minutes`` — closes it (emitted immediately) and starts the
    next. When the event-time watermark passes last_us + gap, the
    registered timer fires with NO new data and the open session is
    emitted and cleared: idle sessions close themselves, which is
    exactly what a batch job cannot do and the reason streaming
    sessionization needs timers. State is one row per ACTIVE user;
    watermark eviction bounds it.

    Value discipline mirrors the batch op: sums accumulate as integer
    cents, start/end cross as integer epoch seconds."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def sessions(key, pdf_iter, state: GroupState):
        def emit(start_us, last_us, n, cents):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "start_s": [start_us // 1_000_000],
                    "end_s": [last_us // 1_000_000],
                    "n_events": [n],
                    "sum_value": [cents / 100.0],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, cents = state.get
            state.remove()
            yield emit(start_us, last_us, n, cents)
            return

        cur = state.get if state.exists else None
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"])
        ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
        cents_col = (pdf["value"] * 100).round().astype("int64").tolist()
        for t_us, c in zip(ts_us, cents_col):
            if cur is None:
                cur = (t_us, t_us, 1, c)
            elif t_us - cur[1] > gap_us:
                yield emit(*cur)
                cur = (t_us, t_us, 1, c)
            else:
                cur = (cur[0], max(cur[1], t_us), cur[2] + 1, cur[3] + c)
        if cur is not None:
            state.update(tuple(int(x) for x in cur))
            # fire once the event-time watermark passes the gap boundary
            state.setTimeoutTimestamp(cur[1] // 1000 + gap_minutes * 60 * 1000)

    return (
        stream.select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessions,
            outputStructType=(
                "user_id BIGINT, start_s BIGINT, end_s BIGINT,"
                " n_events BIGINT, sum_value DOUBLE"
            ),
            stateStructType=(
                "start_us BIGINT, last_us BIGINT, n BIGINT, cents BIGINT"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def cusum(stream: DataFrame, baseline: DataFrame) -> DataFrame:
    """Streaming twin of ``ts_cusum``: a TRAINED-BASELINE change monitor
    — (μ, σ) per user come from a static baseline table (in production,
    the last training window; in the test, the same exact-decimal
    moments the batch op computes), broadcast-joined onto the stream,
    while the {c, mx, alarms} accumulator folds incrementally in the
    state store (O(1) per user). This is the deployment shape of CUSUM:
    the batch op scores history, the twin watches live traffic against
    the frozen baseline.

    Fold discipline mirrors the batch op exactly: rows sorted by
    (ts, event_id) within each micro-batch, identical max/add sequence
    (Python floats are IEEE doubles — the ewma/holt precedent), so one
    drain is bit-equal to the batch fold
    (``test_cusum_twin_matches_batch``).

    Coverage caveat (deliberate): the baseline join is INNER, so events
    from users absent at training time are dropped, not scored — a
    frozen baseline has no μ/σ to score them against. Production policy
    for unseen entities is a separate decision (route to a bootstrap
    window, or a global default baseline row); make it explicit rather
    than scoring against garbage."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    joined = stream.select("user_id", "ts", "event_id", "value").join(
        F.broadcast(baseline), "user_id"
    )

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            c, mx, al, n = state.get
        else:
            c, mx, al, n = 0.0, float("-inf"), 0, 0
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            mean = float(pdf["mean"].iloc[0])
            std = float(pdf["std"].iloc[0])
            for x in pdf["value"]:
                c = max(0.0, c + (float(x) - mean - 0.5 * std))
                mx = max(mx, c)
                al += c > 4.0 * std
            n += len(pdf)
            state.update((float(c), float(mx), int(al), int(n)))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "max_cusum": [mx],
                    "n_alarms": [al],
                }
            )

    return joined.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "user_id BIGINT, n_events BIGINT, max_cusum DOUBLE,"
            " n_alarms BIGINT"
        ),
        stateStructType="c DOUBLE, mx DOUBLE, al BIGINT, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def pattern(stream: DataFrame) -> DataFrame:
    """Streaming twin of ``stream_pattern``: CEP sequence matching with
    O(pattern length) state — exactly the last two (event_type, epoch-s)
    pairs per user live in the state store, so a match is decided the
    moment its final event arrives (Flink-CEP's NFA for a fixed
    contiguous pattern degenerates to this sliding tuple). Counts are
    cumulative per user; matches spanning micro-batch boundaries are
    caught because the lookback rides in state, not in the batch.

    Fold discipline mirrors the batch op: rows sorted by (ts, event_id)
    within each micro-batch; the time guard compares integer epoch
    seconds, so equality with the batch lead()-plan is exact, not
    approximate (``test_pattern_twin_matches_batch``)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = stream.select(
        "user_id", "ts", "event_id", "event_type", F.unix_seconds("ts").alias("ts_s")
    )

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            t2, s2, t1, s1, funnel, burst = state.get
        else:
            t2, s2, t1, s1, funnel, burst = None, 0, None, 0, 0, 0
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            for te, se in zip(pdf["event_type"], pdf["ts_s"]):
                se = int(se)
                if t1 == "error" and te == "error":
                    burst += 1
                if (
                    t2 == "view"
                    and t1 == "click"
                    and te == "purchase"
                    and se - s2 <= 3600
                ):
                    funnel += 1
                t2, s2, t1, s1 = t1, s1, te, se
            state.update((t2, int(s2), t1, int(s1), int(funnel), int(burst)))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_funnel": [funnel],
                    "n_error_burst": [burst],
                }
            )

    return src.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id BIGINT, n_funnel BIGINT, n_error_burst BIGINT",
        stateStructType=(
            "t2 STRING, s2 BIGINT, t1 STRING, s1 BIGINT,"
            " funnel BIGINT, burst BIGINT"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kmv(stream: DataFrame, k: int = 32) -> DataFrame:
    """Streaming twin of ``sketch_kmv``: a running k-minimum-values
    distinct-user estimate per event type. State is exactly the sketch —
    the k smallest md5-derived hashes seen so far (k·8 bytes per key,
    the mergeable partial the batch op re-aggregates) — so the drained
    final state must BIT-MATCH the batch sketch on the same data
    (``test_kmv_twin_matches_batch``): same hashes, same kth minimum,
    same estimate arithmetic ((k−1)·2³²/h₍ₖ₎, exact count when
    under-filled)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = stream.select(
        "event_type",
        md5_int(F.col("user_id")).alias("h"),
    )

    def fold(key, pdf_iter, state: GroupState):
        mins = list(state.get[0]) if state.exists else []
        have = set(mins)
        for pdf in pdf_iter:
            for h in pdf["h"]:
                h = int(h)
                if h in have:
                    continue
                if len(mins) < k:
                    mins.append(h)
                    have.add(h)
                    mins.sort()
                elif h < mins[-1]:
                    have.discard(mins[-1])
                    mins[-1] = h
                    have.add(h)
                    mins.sort()
        state.update((mins,))
        kth = mins[-1] if len(mins) == k else None
        est = (
            float(len(mins))
            if kth is None
            else (k - 1) * 4294967296.0 / kth
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_mins": [len(mins)],
                "kth_hash": [kth],
                "est_distinct": [round(est, 4)],
            }
        )

    return src.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=(
            "event_type STRING, n_mins BIGINT, kth_hash BIGINT,"
            " est_distinct DOUBLE"
        ),
        stateStructType="mins ARRAY<BIGINT>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def histq(stream: DataFrame) -> DataFrame:
    """Streaming twin of ``sketch_hist_quantile``: a running exact
    p50/p90/p99 per event type. State is exactly the mergeable sketch
    the batch op argues for — the (value → count) histogram, held as
    integer CENTS so the state stays exact (2-dp fixture values;
    cents/100 re-rounds to the identical double the batch path reads,
    both being the nearest double to the same 2-dp rational). Each
    micro-batch merges key-wise by addition — the associative merge IS
    the 100 TB story — and quantiles read off the cumulative counts
    with the same integer-ceil rank pick ⌈p·n/100⌉ as the batch
    oracle, so the drained final state must match the batch result
    bit-for-bit (``test_histq_twin_matches_batch``)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = stream.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            vals, cnts = state.get
            hist = dict(zip(list(vals), list(cnts)))
        else:
            hist = {}
        for pdf in pdf_iter:
            for c in pdf["cents"]:
                c = int(c)
                hist[c] = hist.get(c, 0) + 1
        items = sorted(hist.items())
        state.update(([k for k, _ in items], [v for _, v in items]))
        n = sum(hist.values())
        out = {}
        for p, name in ((50, "p50"), (90, "p90"), (99, "p99")):
            k = -(-n * p // 100)  # ceil(n*p/100), integer form
            cum = 0
            for c, cnt in items:
                cum += cnt
                if cum >= k:
                    out[name] = c / 100.0
                    break
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n": [n],
                "p50": [out["p50"]],
                "p90": [out["p90"]],
                "p99": [out["p99"]],
            }
        )

    return src.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=(
            "event_type STRING, n BIGINT, p50 DOUBLE, p90 DOUBLE,"
            " p99 DOUBLE"
        ),
        stateStructType="vals ARRAY<BIGINT>, cnts ARRAY<BIGINT>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
