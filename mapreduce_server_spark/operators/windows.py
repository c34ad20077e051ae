"""Window functions (SURVEY.md §2 cat. E).

MR expression replaced: the secondary-sort pattern — composite key
(group, orderkey), custom partitioner on group, sorted reduce input, and a
stateful scan inside the reducer [HADOOP]. One Spark ``Window`` spec
replaces the whole pattern; the shuffle is hash-on-partition-key +
in-partition sort, identical in shape to the MR job it replaces.

Determinism: every ORDER BY inside a window spec ends in a unique key
(event_id / p_partkey) so row_number/ntile/lag are stable across engines
and partitionings. Running double sums go through the decimal discipline
(functions/numeric.py) because even sequential prefix sums must agree
bit-exactly with the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import davg
from ..registry import query
from ..sources.loader import Tables


@query(
    "win_rownum_topk",
    category="E.window",
    tags=("headline",),
    oracle="""
SELECT user_id, event_id, value, rn
FROM (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM events)
WHERE rn <= 3
""",
)
def win_rownum_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the canonical secondary-sort job.
    One shuffle on user_id; at scale this beats a self-join top-k by
    never materializing candidates."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.select("user_id", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_rank",
    category="E.window",
    oracle="""
SELECT p_partkey, p_brand, p_retailprice,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist()    OVER w AS cdist,
       ntile(4)       OVER w AS quartile
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
""",
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / ntile over one shared spec
    (percent_rank is integer-derived — (rank-1)/(n-1) — so its double is
    engine-identical; ntile needs the unique tiebreak to be stable)."""
    p = Tables(spark, sf_dir).part
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return p.select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "win_lag_lead",
    category="E.window",
    oracle="""
SELECT user_id, event_id,
       epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP))
           OVER w AS gap_us,
       lead(event_type) OVER w AS next_type
FROM events
WHERE user_id % 20 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over the per-user event timeline — the inter-event-gap
    primitive that sessionization (operators/events_batch.py) builds on.
    Demo users capped by a deterministic modulo filter pushed to the
    scan (VERDICT r6 §next #2) — per-user timelines stay complete."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return ev.select(
        "user_id",
        "event_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "win_running",
    category="E.window",
    oracle="""
SELECT user_id, event_id,
       sum(value::DECIMAL(18,2))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
           AS running_value,
       count(*)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n_so_far
FROM events
WHERE user_id % 20 = 0
""",
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with an explicit ROWS frame (the stateful-scan
    reducer [HADOOP]); prefix sums use the exact-decimal discipline so
    every prefix is bit-identical to the oracle's. Demo users capped by
    a deterministic modulo filter pushed to the scan (VERDICT r6 §next
    #2) — prefixes stay complete per kept user."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") % 20 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias(
            "running_value"
        ),
        F.count(F.lit(1)).over(w).alias("n_so_far"),
    )


@query(
    "win_range_frame",
    category="E.window",
    oracle="""
SELECT user_id, event_id, value,
       count(*) OVER (PARTITION BY user_id ORDER BY value
                      RANGE BETWEEN 50 PRECEDING AND CURRENT ROW)
           AS n_in_band,
       sum(value::DECIMAL(18,2))
           OVER (PARTITION BY user_id ORDER BY value
                 RANGE BETWEEN 50 PRECEDING AND CURRENT ROW)::DOUBLE
           AS sum_in_band
FROM events
WHERE user_id % 20 = 0
""",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering key (frame membership depends
    on values, not row positions, so tied rows share identical frames).
    Demo users capped by a deterministic modulo filter pushed to the
    scan (VERDICT r6 §next #2) — frames stay complete per kept user."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("value").rangeBetween(-50, 0)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n_in_band"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias(
            "sum_in_band"
        ),
    )


@query(
    "win_first_last",
    category="E.window",
    oracle="""
SELECT user_id, event_id,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type)  OVER w AS last_type,
       nth_value(event_type, 2) OVER w AS second_type
FROM events
WHERE user_id % 20 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth over the full-partition frame (the default growing
    frame would make last_value ≡ current row — spelled out explicitly).
    Demo users capped by a deterministic modulo filter pushed to the
    scan (VERDICT r6 §next #2) — partitions stay complete per user."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") % 20 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


@query(
    "win_gaps_islands",
    category="E.window",
    oracle="""
WITH hours AS (
  SELECT DISTINCT user_id,
         epoch_us(date_trunc('hour', ts::TIMESTAMP)) // 1000000 AS h_s
  FROM events
),
grp AS (
  SELECT user_id, h_s,
         h_s - 3600 * row_number() OVER (PARTITION BY user_id ORDER BY h_s)
           AS island_key
  FROM hours
),
islands AS (
  SELECT user_id, island_key,
         count(*) AS len_hours, min(h_s) AS island_start_s
  FROM grp GROUP BY user_id, island_key
)
SELECT user_id,
       count(*) AS n_islands,
       max(len_hours) AS longest_hours,
       min(island_start_s) AS first_start_s
FROM islands GROUP BY user_id
""",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active hours per
    user — the canonical window puzzle (uptime stretches, streak
    detection). The trick: for hours ranked k = 1,2,… within a user,
    `hour − k·3600` is constant exactly along a consecutive run, so one
    row_number plus a groupBy finds every island with no self-join —
    all arithmetic on integer epochs, nothing for engines to round.

    Scale: distinct-(user, hour) first (the only pass over raw events),
    then the window and both aggregates all key on user_id — one
    partitioning reused; per-user state is the hour grid, bounded by
    the time span, not the event volume."""
    ev = Tables(spark, sf_dir).events
    hours = ev.select(
        "user_id",
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("h_s"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("h_s")
    islands = (
        hours.withColumn(
            "island_key", F.col("h_s") - 3600 * F.row_number().over(w)
        )
        .groupBy("user_id", "island_key")
        .agg(
            F.count(F.lit(1)).alias("len_hours"),
            F.min("h_s").alias("island_start_s"),
        )
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("len_hours").alias("longest_hours"),
        F.min("island_start_s").alias("first_start_s"),
    )


@query(
    "win_moving_median",
    category="E.window",
    oracle="""
SELECT event_id, user_id, value,
       round(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
             6) AS med7
FROM events
WHERE user_id % 20 = 0
""",
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row median per user — the robust moving-average twin
    (order statistics have no partial-aggregate form, so engines either
    keep the frame materialized or re-sort per row; with w = 7 the
    collect-and-sort frame is O(w log w) per row and shuffle-free after
    the ONE hash-on-user exchange). Median of an even frame is the
    midpoint interpolation, matching DuckDB's quantile_cont(0.5); the
    interpolated value of 2-dp data is exactly 3-dp, so the 6-dp round
    absorbs the one-ulp association difference between (a+b)/2 and
    DuckDB's lerp form without touching a rounding boundary
    (ARCHITECTURE §4 rule 3 — and rule 4 does not bite: 6 dp is finer
    than the data's 3 dp). Demo users capped by a deterministic modulo
    filter pushed to the scan (VERDICT r6 §next #2)."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") % 20 == 0)
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    # name the frame ONCE — each textual reference to a window expression
    # plans a separate window instance (STATUS expression-inlining trap)
    base = ev.select(
        "event_id",
        "user_id",
        "value",
        F.array_sort(F.collect_list("value").over(w7)).alias("frame"),
    )
    arr = F.col("frame")
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / F.lit(2)).cast("int"))
    lo = F.element_at(arr, (n / F.lit(2)).cast("int"))
    hi = F.element_at(arr, (n / F.lit(2)).cast("int") + 1)
    med = F.when(n % 2 == 1, odd).otherwise((lo + hi) / 2.0)
    return base.select(
        "event_id",
        "user_id",
        "value",
        F.round(med, 6).alias("med7"),
    )


@query(
    "win_ntile",
    category="E.window",
    oracle="""
WITH t AS (
  SELECT event_type, value,
         ntile(4) OVER (PARTITION BY event_type
                        ORDER BY value NULLS LAST, event_id) AS tile
  FROM events
)
SELECT event_type, tile, count(*) AS n,
       min(value) AS lo, max(value) AS hi,
       round(sum(value::DECIMAL(18,2))::DOUBLE / count(*), 6) AS avg_value
FROM t GROUP BY 1, 2
""",
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing per event type (``ntile(4)``) + per-bucket
    profile — the equi-depth-histogram window (quartile summaries,
    quantile-binned features for tree trainers). NTILE's fill rule
    (first ``n mod k`` tiles get the extra row) is ANSI-identical across
    engines, and the ORDER BY ends in ``event_id`` so the assignment is
    a total order — bucket membership is reproducible, not
    partition-order luck. Per-bucket sums go through DECIMAL(18,2) (the
    2-dp value discipline) so the averages are fold-order-free.

    Plan: ONE hash exchange on event_type feeds both the in-partition
    sort window and the downstream (type, tile) partial agg.

    NULL ordering contract (round-11 axis): rank windows order NULL
    measures LAST, spelled EXPLICITLY on both engines — Spark's ASC
    default is NULLS FIRST while DuckDB's is NULLS LAST, the one
    window divergence class the engines' defaults hide on non-null
    fixtures (ARCHITECTURE §22)."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("value"), "event_id"
    )
    t = ev.select(
        "event_type", "value", F.ntile(4).over(w).alias("tile")
    )
    return t.groupBy("event_type", "tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.round(davg("value"), 6).alias("avg_value"),
    )


@query(
    "win_percent_rank",
    category="E.window",
    oracle="""
WITH t AS (
  SELECT event_id, event_type, value,
         percent_rank() OVER (PARTITION BY event_type
                              ORDER BY value NULLS LAST) AS pr,
         cume_dist() OVER (PARTITION BY event_type
                           ORDER BY value NULLS LAST) AS cd
  FROM events
)
SELECT event_id, event_type, value,
       round(pr, 9) AS pct_rank, round(cd, 9) AS cume_dist
FROM t WHERE event_id % 100 = 0
""",
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing within the type distribution:
    ``percent_rank`` ((rank−1)/(n−1)) and ``cume_dist`` (≤-share) per
    event — the window-side complement of the quantile aggregates
    (agg_percentile asks "what value sits at p?"; this asks "what p
    does each value sit at?" — the percentile-feature transform for
    model training). Both are rank-based, so ties on value are
    deterministic without a tiebreak column, and each is ONE division
    of exact integers — fold-order-free, exact at 9 dp.

    The output sample (event_id % 100) filters AFTER the window so
    ranks reflect the full distribution — predicate stays above the
    window in the plan, but the scan prunes to 3 columns. NULL
    measures rank LAST, spelled explicitly on both engines (win_ntile
    note)."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("value"))
    t = ev.select(
        "event_id",
        "event_type",
        "value",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return t.where(F.col("event_id") % 100 == 0).select(
        "event_id",
        "event_type",
        "value",
        F.round("pr", 9).alias("pct_rank"),
        F.round("cd", 9).alias("cume_dist"),
    )


@query(
    "win_running_distinct",
    category="E.window",
    oracle="""
WITH f AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, event_id,
       sum(first_seen) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id)::BIGINT
         AS n_types_so_far
FROM f
WHERE user_id % 50 = 0
""",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING DISTINCT COUNT per user (how many distinct event types
    seen so far, at every event) — the window Spark refuses directly
    (COUNT(DISTINCT) over a running frame is unsupported), rewritten as
    the first-occurrence trick: flag each (user, type)'s first event
    with one row_number window, then a running SUM of flags is exactly
    the running distinct count. Integer throughout — exact. The
    output sample (user_id % 50) filters after the windows, which both
    partition by user_id — one exchange serves both.

    This rewrite is the scalable form generally: distinct-so-far state
    never materializes per row (the naive set-per-row is O(n·k));
    at 100 TB it's still two windows over one user-keyed shuffle."""
    ev = Tables(spark, sf_dir).events
    wfirst = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(wfirst) == 1, 1)
        .otherwise(0)
        .alias("first_seen"),
    )
    return (
        f.select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(wrun).alias("n_types_so_far"),
        )
        .where(F.col("user_id") % 50 == 0)
    )
