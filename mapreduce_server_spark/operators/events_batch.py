"""Streaming-shaped operators in batch-verifiable form (SURVEY.md §2 cat. I).

The driver's oracle is batch DuckDB SQL, so each operator here is the batch
DataFrame form the correctness gate grades. A stateless operator is one
frame → frame builder (:func:`hourly_totals`, :func:`user_hourly_totals`,
:func:`sliding_counts`, :func:`click_purchase_pairs`): the registry key
applies it to the events table, and its streaming form applies the same
builder to ``events_stream(...).withWatermark("ts", delay)``
(pytest-verified, tests/test_streaming.py). The stateful operators whose
streaming form differs by design live in :mod:`..streaming.twins`.

Window-start columns are emitted as epoch seconds (BIGINT) — engine-native
timestamp types round-trip differently (ns vs µs) through result buffers,
epoch integers compare exactly.

Scale notes: tumbling/sliding aggregation shuffles O(buckets × types) after
partial agg; sessionization is one shuffle on user_id + an in-partition
ordered scan (the secondary-sort pattern); at 100 TB session state per key
is bounded by the per-user event count, and the streaming twin replaces the
full re-scan with incremental state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import jobs
from ..functions.numeric import dsum
from ..registry import query
from ..sources.loader import Tables


@query(
    "stream_tumbling",
    category="I.stream",
    tags=("headline",),
    oracle="""
SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT AS ws_s,
       event_type,
       count(*) AS n,
       sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window × event_type aggregate (:func:`hourly_totals`)."""
    return hourly_totals(Tables(spark, sf_dir).events, "event_type")


def hourly_totals(ev: DataFrame, by: str) -> DataFrame:
    """Per 1-hour tumbling window × ``by``: event count and exact value
    sum, the window start as epoch seconds ``ws_s``. The one builder of
    ``stream_tumbling`` (by event_type) and ``stream_topk``'s
    pre-aggregate (by user); the streaming form is the same builder over
    ``events_stream(...).withWatermark("ts", delay)``."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), by)
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(F.unix_seconds(F.col("w.start")).alias("ws_s"), by, "n", "sum_value")
    )


@query(
    "stream_sliding",
    category="I.stream",
    oracle="""
SELECT epoch(tb - k.k * INTERVAL 15 MINUTE)::BIGINT AS ws_s,
       event_type,
       count(*) AS n
FROM (SELECT time_bucket(INTERVAL 15 MINUTE, ts::TIMESTAMP) AS tb, event_type
      FROM events) e,
     (SELECT unnest([0, 1, 2, 3]) AS k) k
GROUP BY 1, 2
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 15 min slide): each event lands in 4
    overlapping windows (oracle reproduces Spark's epoch-aligned window
    enumeration with an explicit 4-offset expand)."""
    return sliding_counts(Tables(spark, sf_dir).events)


def sliding_counts(ev: DataFrame) -> DataFrame:
    """Event count per (1 h window sliding every 15 min) × event_type,
    batch or watermarked stream alike."""
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_seconds(F.col("w.start")).alias("ws_s"), "event_type", "n")
    )


@query(
    "stream_session",
    category="I.stream",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events,
       epoch_us(min(ts)::TIMESTAMP) // 1000000 AS start_s,
       epoch_us(max(ts)::TIMESTAMP) // 1000000 AS end_s,
       sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
FROM sessions
GROUP BY user_id, session_id
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: ``jobs.sessionize``
    per user in (ts, event_id) order — the gap-flag → running-sum
    session-id form (deterministic ids, unlike
    monotonically_increasing_id; SURVEY §7 M5) — then one row per
    session. Streaming twin: ``twins.session`` (native
    ``F.session_window(ts, '30 minutes')``)."""
    ev = Tables(spark, sf_dir).events
    sessions = jobs.sessionize(ev, "user_id", "ts", "event_id", 30 * 60)
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_seconds(F.min("ts")).alias("start_s"),
        F.unix_seconds(F.max("ts")).alias("end_s"),
        dsum("value").alias("sum_value"),
    )


@query(
    "stream_dedup",
    category="I.stream",
    oracle="""
SELECT user_id, event_type, event_id, epoch_us(ts::TIMESTAMP) AS ts_us
FROM (SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the earliest arrival — the deterministic
    window form of ``dropDuplicates``. Every event_id is unique in the
    fixtures, so the demo key is (user_id, event_type). ``twins.dedup``
    differs from this key: it drops repeated event_ids with
    ``dropDuplicatesWithinWatermark`` (a first-arrival pick, not the
    earliest-ts one), so on the fixtures it keeps every row."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us"))
    )


@query(
    "stream_running_users",
    category="I.stream",
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(ts::TIMESTAMP)::DATE AS first_day FROM events GROUP BY 1
),
per_day AS (
  SELECT first_day::VARCHAR AS day, count(*) AS new_users FROM first_seen GROUP BY 1
)
SELECT day, new_users,
       sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)::BIGINT
           AS cum_users
FROM per_day
""",
)
def stream_running_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count by day — the batch equivalent of the
    custom stateful streaming operator (per-key state = user first-seen);
    the streaming twin ``twins.first_seen_users`` keeps that state with
    ``applyInPandasWithState``."""
    ev = Tables(spark, sf_dir).events
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    per_day = first_seen.groupBy(F.col("first_day").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.withColumn("cum_users", F.sum("new_users").over(w))


@query(
    "stream_join",
    category="I.stream",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       (epoch_us(p.ts::TIMESTAMP) - epoch_us(c.ts::TIMESTAMP)) // 1000000
           AS lag_s
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 24 HOUR
""",
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution pairs within 24 h per user — the batch
    form of a stream-stream interval join (:func:`click_purchase_pairs`
    with the events table on both sides). In batch this is an equi-join
    on user_id with a range predicate (one shuffle, range evaluated
    post-join)."""
    ev = Tables(spark, sf_dir).events
    return click_purchase_pairs(ev, ev)


def click_purchase_pairs(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """(click, purchase) pairs of one user with the purchase at most 24 h
    after the click. Over two streams, each watermarked on ``ts``, this
    is the stream-stream interval join: the two-sided time bound on p_ts
    is what lets Spark evict each side's rows once the other side's
    watermark passes the interval end — without it an inner join of two
    streams would buffer both forever."""
    c = clicks.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 24 HOURS"))
    )
    lag_s = F.floor(
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")) / F.lit(1_000_000)
    )
    return c.join(p, cond).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        lag_s.alias("lag_s"),
    )


@query(
    "ts_rollup_multigrain",
    category="I.stream",
    oracle="""
WITH b AS (
  SELECT epoch_us(date_trunc('day', ts::TIMESTAMP)) // 1000000 AS day_s,
         epoch_us(date_trunc('hour', ts::TIMESTAMP)) // 1000000 AS hour_s,
         value
  FROM events
)
SELECT day_s, hour_s,
       count(*) AS n,
       sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
FROM b
GROUP BY ROLLUP (day_s, hour_s)
HAVING count(*) > 0
""",
)
def ts_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate at THREE granularities in
    one pass — per-hour cells, per-day subtotals, and the grand total —
    via ROLLUP(day, hour): Spark's Expand operator emits each row once
    per level and one shuffle aggregates all levels (a MapReduce engine
    re-runs one job per granularity; a Timescale continuous aggregate
    materializes each level separately). Sums are exact decimal so every
    level is order-independent; buckets cross engines as integer epochs.
    At scale this IS the rollup pattern to feed `matview_daily_rollup`'s
    serving store: coarse grains come for free with the fine grain.
    Oracle carries HAVING count(*) > 0 to mirror Spark's empty-input
    grouping-set semantics (see agg_rollup)."""
    ev = Tables(spark, sf_dir).events
    b = ev.select(
        F.unix_seconds(F.date_trunc("day", "ts")).alias("day_s"),
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("hour_s"),
        "value",
    )
    return b.rollup("day_s", "hour_s").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sum_value"),
    )


@query(
    "stream_sliding_distinct",
    category="I.stream",
    oracle="""
WITH g AS (
  SELECT DISTINCT time_bucket(INTERVAL 15 MINUTE, ts::TIMESTAMP) AS tb, user_id
  FROM events
),
e AS (
  SELECT DISTINCT tb - k.k * INTERVAL 15 MINUTE AS ws, user_id
  FROM g, (SELECT unnest([0, 1, 2, 3]) AS k) k
)
SELECT epoch(ws)::BIGINT AS ws_s, count(*) AS n_users
FROM e GROUP BY 1
""",
)
def stream_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per 1-hour window sliding every 15 minutes — the
    sliding-window COUNT DISTINCT that plain sliding counts (stream_
    sliding) cannot answer. Plan: reduce raw events to distinct
    (15-min bucket, user) FIRST — the only pass over the fact table, so
    the shuffle carries one row per (bucket, user) — then expand each
    grid point into the 4 epoch-aligned windows containing it (starts
    tb−{0,15,30,45}m: exactly Spark's sliding-window enumeration) and
    distinct-count per window start. Dedup-before-expand keeps the 4×
    expansion on the reduced grid instead of the raw stream. At 100 TB
    the same two-level shape is how streaming distinct works: per-bucket
    exact (or HLL) partials merged per window."""
    ev = Tables(spark, sf_dir).events
    grid = ev.select(
        F.window("ts", "15 minutes").start.alias("tb"), "user_id"
    ).distinct()
    shifts = F.array(
        *[F.col("tb") - F.expr(f"INTERVAL {m} MINUTES") for m in (0, 15, 30, 45)]
    )
    return (
        grid.select(F.explode(shifts).alias("ws"), "user_id")
        .distinct()
        .groupBy(F.unix_seconds("ws").alias("ws_s"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "stream_pattern",
    category="I.stream",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS ts_s,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         lead(epoch_us(ts) // 1000000, 2) OVER w AS ts2_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       sum(CASE WHEN event_type = 'view' AND t1 = 'click'
                 AND t2 = 'purchase' AND ts2_s - ts_s <= 3600
                THEN 1 ELSE 0 END)::BIGINT AS n_funnel,
       sum(CASE WHEN event_type = 'error' AND t1 = 'error'
                THEN 1 ELSE 0 END)::BIGINT AS n_error_burst
FROM seq
GROUP BY user_id
HAVING n_funnel > 0 OR n_error_burst > 0
""",
)
def stream_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence-pattern matching (MATCH_RECOGNIZE / Flink-CEP
    surface) in its scale-shaped batch form: per user, count STRICTLY
    CONTIGUOUS occurrences of view→click→purchase completing within one
    hour, and error→error bursts.

    The pattern is compiled to ``lead`` lookaheads over the per-user
    event order instead of materializing each user's full event sequence
    (no ``collect_list`` — per-row state is O(pattern length), so a user
    with 10^9 events costs the same per row as one with 10). Fixed-length
    contiguous patterns need exactly ``len-1`` leads; one shuffle on
    user_id, then a partial-aggregated count. Contiguous 3-patterns with
    distinct heads cannot self-overlap, so this equals the
    non-overlapping match count MATCH_RECOGNIZE(AFTER MATCH SKIP PAST
    LAST ROW) would report. The time guard compares integer epoch
    seconds (ARCHITECTURE §4 rule 5). The streaming twin of this shape
    keeps the last two events per key as state (twins module pattern).
    """
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.unix_seconds("ts").alias("ts_s"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead(F.unix_seconds("ts"), 2).over(w).alias("ts2_s"),
    )
    funnel_hit = (
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
        & (F.col("ts2_s") - F.col("ts_s") <= 3600)
    )
    burst_hit = (F.col("event_type") == "error") & (F.col("t1") == "error")
    return (
        seq.groupBy("user_id")
        .agg(
            F.sum(funnel_hit.cast("long")).alias("n_funnel"),
            F.sum(burst_hit.cast("long")).alias("n_error_burst"),
        )
        .filter((F.col("n_funnel") > 0) | (F.col("n_error_burst") > 0))
    )


@query(
    "matview_incremental",
    category="A.sink",
    oracle="""
SELECT epoch_us(date_trunc('day', ts)) // 1000000 AS day_s,
       event_type,
       count(*) AS n,
       sum(value::DECIMAL(18,2))::DOUBLE AS sum_value,
       max(value) AS max_value,
       count(DISTINCT user_id) AS n_users_exact
FROM events
GROUP BY 1, 2
""",
)
def matview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, verified against full
    recompute: the daily (day × type) rollup is built as BASE (all days
    but the last) + DELTA (the last day only), merged by RE-AGGREGATING
    PARTIALS — count via sum, decimal sum via sum, max via max, and the
    distinct-user count via the union of per-side distinct (day, type,
    user) keys (the only non-trivially-mergeable metric; at 100 TB this
    slot is an HLL/bitmap partial — sketch_hll_merge / sketch_
    bitmap_distinct are the registered scale forms). The ORACLE is the
    one-shot full recompute, so the driver hash proves merge ≡ rebuild —
    the invariant that makes nightly-view + intraday-delta serving
    correct. Plan: each side aggregates partially before its shuffle;
    the delta side's scan prunes to one day (at scale: one partition of
    a day-partitioned sink, so refresh cost is O(delta), not O(view))."""
    ev = Tables(spark, sf_dir).events
    day = F.unix_seconds(F.date_trunc("day", "ts")).alias("day_s")
    cutoff = ev.agg(
        F.max(F.unix_seconds(F.date_trunc("day", "ts"))).alias("last_day")
    )
    tagged = ev.select(
        day, "event_type", "value", "user_id"
    ).crossJoin(F.broadcast(cutoff))

    def rollup(side):
        return side.groupBy("day_s", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
            F.max("value").alias("max_value"),
        )

    base = rollup(tagged.filter(F.col("day_s") < F.col("last_day")))
    delta = rollup(tagged.filter(F.col("day_s") == F.col("last_day")))
    merged = (
        base.unionAll(delta)
        .groupBy("day_s", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    # distinct users: merge per-side key sets (union is the partial).
    # count(DISTINCT user_id) IGNORES NULLs (SQL count-of-column
    # semantics) — the distinct-key-set spelling must filter them or it
    # counts the NULL key as a user (round-11 NULL axis).
    keys = (
        tagged.where(F.col("user_id").isNotNull())
        .select("day_s", "event_type", "user_id")
        .distinct()
    )
    users = keys.groupBy("day_s", "event_type").agg(
        F.count(F.lit(1)).alias("n_users_exact")
    )
    # LEFT join + 0: a group whose users are ALL NULL still exists in
    # the rollup with a 0 distinct count (count(DISTINCT col) = 0, the
    # group row itself comes from count(*))
    return merged.join(users, ["day_s", "event_type"], "left").select(
        "day_s",
        "event_type",
        "n",
        "sum_value",
        "max_value",
        F.coalesce(F.col("n_users_exact"), F.lit(0).cast("long")).alias(
            "n_users_exact"
        ),
    )


@query(
    "stream_topk",
    category="I.stream",
    oracle="""
WITH agg AS (
  SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT AS ws_s,
         user_id,
         count(*) AS n,
         sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
)
SELECT ws_s, user_id, n, sum_value, rk
FROM (SELECT *, row_number() OVER (PARTITION BY ws_s
                                   ORDER BY n DESC, user_id) AS rk
      FROM agg)
WHERE rk <= 3
""",
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed TOP-K — the trending-items query every event platform
    serves (top users per tumbling hour by activity): tumbling-window
    pre-aggregate (:func:`user_hourly_totals`, map-side combined — the
    shuffle carries one row per (window, user), never raw events), then
    a per-window row_number top-3 with the (count DESC, user_id) total
    order. In Structured Streaming the same pre-aggregate runs
    incrementally under a watermark and the rank-prune runs on the
    compacted state store per trigger (rank over update-mode output);
    the batch plan here is that per-trigger computation run once. At
    100 TB the window agg is the only full-data shuffle; the top-k
    window runs on |windows|×|active users| aggregated rows."""
    agg = user_hourly_totals(Tables(spark, sf_dir).events)
    wr = Window.partitionBy("ws_s").orderBy(F.desc("n"), F.asc("user_id"))
    return agg.withColumn("rk", F.row_number().over(wr)).filter(F.col("rk") <= 3)


def user_hourly_totals(ev: DataFrame) -> DataFrame:
    """``stream_topk``'s pre-aggregate: :func:`hourly_totals` per user.

    NULL contract (round-11 axis): a NULL user_id is not an entity and
    cannot trend — dropped on both engines (it would otherwise rank
    with engine-dependent NULL tiebreak ordering)."""
    return hourly_totals(ev.where(F.col("user_id").isNotNull()), "user_id")
