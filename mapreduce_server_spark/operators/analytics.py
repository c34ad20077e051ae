"""Composite analytics operators (round 2): co-occurrence, funnel,
CDC merge, SCD2 history, statistical anomaly flagging.

The reference class expresses each of these as a chained MapReduce job
(pairs emission → shuffle → count; per-key state carried between passes
[MR04 §2.3's URL/access patterns generalized]); here each is ONE declarative
DataFrame plan, so Catalyst fuses the stages and AQE sizes the shuffles.

Float discipline (ARCHITECTURE.md §4): counts and timestamps are exact
integers end-to-end; the only doubles (anomaly z-scores) are derived from
exact DECIMAL sums, making them fold-order-independent, then rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import jobs
from ..functions.numeric import davg, dsum
from ..functions.pairs import skew_safe_pairs
from ..functions.series import hour_span, hourly_counts
from ..registry import query
from ..sources.loader import Tables


def _baskets(li: DataFrame) -> DataFrame:
    """Per-order DISTINCT part set as a sorted array — the shared input
    of the co-occurrence family (round-13, guide §2.4): one map-side-
    combined groupBy(l_orderkey).collect_set exchange replaces the
    previous distinct-projection + self-join-on-l_orderkey shape, so
    the interaction stream crosses the network once instead of twice.
    collect_set dedupes within the order exactly like the old DISTINCT
    projection; sort_array pins a deterministic element order for the
    pair generators.

    NULL-key semantics (round-14, ADVICE r13), pinned by
    tests/test_r14_optimizations.py on a planted NULL-key corpus:

    - NULL ``l_orderkey`` is filtered EXPLICITLY — the oracles' self-join
      drops it implicitly (NULL never equi-joins) and rec_lift_pairs'
      basket total must equal countDistinct(l_orderkey), which excludes
      NULL; without the filter the groupBy would mint a NULL-orderkey
      basket and inflate the count.
    - NULL ``l_partkey`` is NOT row-filtered: collect_set already skips
      NULL elements (matching the oracles, where NULL < x / NULL <> x
      never pairs and the NULL item-count group never joins a pair key),
      while the ORDER itself must survive — an all-NULL-parts order is
      an empty basket that still counts toward countDistinct(l_orderkey).
    """
    return (
        li.where(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )


def _basket_pairs(baskets: DataFrame, directed: bool) -> DataFrame:
    """Exploded basket-local pairs (part_a, part_b) with the round-14
    mega-basket split (functions/pairs.py): baskets over
    SPARK_GRAFT_BASKET_CAP are chunked and hash-redistributed before
    generation, bounding any one task's pair blowup — the cap/salt
    mitigation the round-13 docstrings documented, now implemented
    (VERDICT r13 #4). Identical pair multiset by construction."""
    return skew_safe_pairs(
        baskets,
        ["l_orderkey"],
        "parts",
        directed=directed,
        a_name="part_a",
        b_name="part_b",
    )


@query(
    "cooccur_parts",
    category="D.agg",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(*) AS n_orders
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
""",
)
def cooccur_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item co-occurrence (market-basket pairs): parts appearing in the
    same order, counted across orders — the canonical "pairs" MapReduce
    workload (emit (a,b) per basket → shuffle → count).

    Round-13 optimization (guide §2.4 "remove shuffles outright"): the
    round-12 form was distinct → self-join on l_orderkey → pair count,
    three exchanges of the interaction stream. This is the BASKET form:
    one groupBy(l_orderkey) with a map-side-combined collect_set folds
    the distinct AND the join into a single exchange, and the (a<b)
    pairs are generated basket-locally from the sorted part array by a
    JVM higher-order transform — 3 Exchanges → 2 and the interaction
    stream crosses the network once instead of twice
    (plans/r13/cooccur_parts_{before,after}.txt). Pair blowup stays
    per-basket local (|basket|² inside one task) exactly as the
    self-join form's ok-partition did; at 100 TB the skew hazard and
    its mitigations (cap/salt giant baskets, or the full "stripes"
    per-part neighbor maps) are unchanged."""
    li = Tables(spark, sf_dir).lineitem
    return (
        _basket_pairs(_baskets(li), directed=False)
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 2)
    )


@query(
    "funnel_stages",
    category="I.stream",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts::TIMESTAMP) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(ts::TIMESTAMP) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE event_type = 'click' AND ts::TIMESTAMP > t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(ts::TIMESTAMP) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE event_type = 'purchase' AND ts::TIMESTAMP > t2
  GROUP BY e.user_id
)
SELECT stage, n_users FROM (
  SELECT '1_view' AS stage, count(*) AS n_users FROM v
  UNION ALL SELECT '2_click_after_view', count(*) FROM c
  UNION ALL SELECT '3_purchase_after_click', count(*) FROM p
)
""",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase, strictly
    later stages): per user, the earliest view, the earliest click AFTER
    that view, the earliest purchase after that click; output is users
    surviving each stage. Each stage is a per-user min — a map-side
    partial agg that collapses to |users| rows before its join, and
    every join is on user_id, so all three stages share one partitioning
    (no re-shuffle between stages at scale; the stage frames are
    broadcast-joined back onto events while |users| stays small relative
    to events). Strict `>` on microsecond timestamps matches the oracle's
    `ts::TIMESTAMP` truncation exactly."""
    ev = Tables(spark, sf_dir).events
    # v and c are each referenced twice (next stage + their count row);
    # cache those tiny per-user aggregates so the duplicated subtrees do
    # not rescan events per reference (STATUS trap). p feeds only its
    # count row, so it is NOT cached.
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .cache()
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .cache()
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("1_view").alias("stage"), "n_users"
        )
        .unionAll(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("2_click_after_view").alias("stage"), "n_users"
            )
        )
        .unionAll(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("3_purchase_after_click").alias("stage"), "n_users"
            )
        )
    )
    return counts


@query(
    "merge_upsert",
    category="C.join",
    oracle="""
WITH latest AS (
  SELECT o_custkey, o_orderstatus, o_totalprice,
         epoch_us(o_orderdate::TIMESTAMP) // 1000000 AS last_order_s
  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn
        FROM orders)
  WHERE rn = 1
)
SELECT c_custkey, c_name, c_mktsegment,
       coalesce(o_orderstatus, 'NONE') AS last_status,
       coalesce(o_totalprice, 0.0)     AS last_price,
       coalesce(last_order_s, 0)       AS last_order_s
FROM customer LEFT JOIN latest ON c_custkey = o_custkey
""",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge/upsert (MERGE INTO semantics without a table format):
    the customer dimension is refreshed with each customer's latest
    order (change-capture stream reduced to last-writer-wins by
    (o_orderdate, o_orderkey) — a deterministic tiebreak, never
    "whichever arrived last"). WHEN MATCHED → update status/price/date;
    WHEN NOT MATCHED BY SOURCE → keep the base row with sentinel
    defaults. The changelog reduction is a window top-1 (partial per
    partition, no pre-shuffle), and the merge itself is a single
    equi-join on the dimension key — on a real lakehouse this plan is
    exactly what Delta/Iceberg MERGE compiles to, minus the file
    rewrite. Money passes through untouched (no arithmetic → no float
    discipline needed)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    latest = (
        t.orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.unix_seconds(F.col("o_orderdate").cast("timestamp")).alias(
                "last_order_s"
            ),
        )
    )
    return t.customer.join(
        latest, t.customer.c_custkey == latest.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.coalesce("o_orderstatus", F.lit("NONE")).alias("last_status"),
        F.coalesce("o_totalprice", F.lit(0.0)).alias("last_price"),
        F.coalesce("last_order_s", F.lit(0)).alias("last_order_s"),
    )


@query(
    "scd2_intervals",
    category="E.window",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, event_id,
         epoch_us(ts::TIMESTAMP) AS valid_from_us
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type, valid_from_us,
       lead(valid_from_us)
         OVER (PARTITION BY user_id ORDER BY valid_from_us, event_id)
         AS valid_to_us,
       (lead(valid_from_us)
          OVER (PARTITION BY user_id ORDER BY valid_from_us, event_id)
          IS NULL) AS is_current
FROM changes
""",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: each user's event_type is treated as a
    slowly-changing attribute; consecutive repeats collapse and each
    surviving change opens a validity interval [valid_from, valid_to)
    closed by the next change (NULL = current). Two window passes over
    the SAME (user_id)-partitioning — Catalyst plans one Exchange and
    runs both sorts within it. The (ts, event_id) tiebreak keeps
    tied-microsecond rows deterministic on both engines (the ADVICE.md
    stream_session rule). This is the batch backfill of what
    streaming/twins.py's stateful ops maintain incrementally."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("valid_from_us"),
        )
    )
    # valid_from_us alone can tie (two same-µs type-changes for one user);
    # event_id makes the lead() ordering total on both engines
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    nxt = F.lead("valid_from_us").over(w2)
    return changes.select(
        "user_id",
        "event_type",
        "valid_from_us",
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "anomaly_zscore",
    category="D.agg",
    oracle="""
WITH stats AS (
  SELECT event_type,
         count(*) AS n,
         sum(value::DECIMAL(18,2))::DOUBLE AS s,
         sum((value * value)::DECIMAL(24,4))::DOUBLE AS ssq
  FROM events GROUP BY event_type
),
scored AS (
  SELECT e.event_id, e.event_type, e.value,
         (e.value - s / n)
           / sqrt(ssq / n - (s / n) * (s / n)) AS z
  FROM events e JOIN stats USING (event_type)
)
SELECT event_id, event_type, value, round(z, 4) AS z
FROM scored
WHERE abs(z) > 2.4
""",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical anomaly flagging: per-event-type z-score, events with
    |z| > 2.4 surfaced — the data-quality screen a training pipeline
    runs before ingestion. The moments are EXACT decimal sums (value is
    2-dp clean → DECIMAL(18,2); value² is then 4-dp clean →
    DECIMAL(24,4)), so mean/std are independent of partition fold order
    — the only way a threshold filter can be deterministic across engines
    AND cluster sizes (a double sum would move by ulps with partitioning
    and could flip a borderline row in/out of the result). Stats per
    type (5 rows) broadcast back onto events: one shuffle for the agg,
    none for the join."""
    ev = Tables(spark, sf_dir).events
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value"), scale=4, precision=24).alias("ssq"),
    )
    mean = F.col("s") / F.col("n")
    std = F.sqrt(F.col("ssq") / F.col("n") - mean * mean)
    # try_divide: std = 0 (single-event type on a shrunken fixture)
    # yields NULL like DuckDB's x/0; |NULL| > 2.4 filters the row out
    z = F.try_divide(F.col("value") - mean, std)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 2.4)
        .select("event_id", "event_type", "value", F.round(z, 4).alias("z"))
    )


@query(
    "ts_fill_forward",
    category="E.window",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts::TIMESTAMP) AS h,
         count(*) AS n,
         sum(value::DECIMAL(18,2))::DOUBLE AS sv
  FROM events WHERE user_id % 20 = 0 GROUP BY 1, 2
),
bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS g
  FROM bounds
)
SELECT grid.user_id,
       epoch_us(g) // 1000000 AS hour_s,
       coalesce(n, 0) AS n_events,
       last_value(sv IGNORE NULLS)
         OVER (PARTITION BY grid.user_id ORDER BY g
               ROWS UNBOUNDED PRECEDING) AS sum_filled,
       (n IS NULL) AS is_filled
FROM grid LEFT JOIN hourly ON grid.user_id = hourly.user_id AND g = h
""",
)
def ts_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: each user's event stream becomes a
    dense hourly grid (min..max hour per user), missing hours carry the
    last observed hourly sum forward (is_filled marks them). The grid is
    generated with `sequence()` per user (one row per user explodes to
    its span — never a global calendar crossJoin), the fill is
    ``jobs.forward_fill`` over the grid (`last(ignorenulls)` over
    rows-unbounded-preceding), and hourly sums
    are exact decimal folds (fold-order-free). One shuffle for the
    hourly agg; grid explode and left join stay on the same user_id
    partitioning at scale. This is the batch form of what a streaming
    gap-filler does with timers in transformWithState. Demo users
    capped by a deterministic modulo filter pushed to the scan (VERDICT
    r6 §next #2)."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") % 20 == 0)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sv"),
    )
    grid = hour_span(hourly, "user_id")
    joined = grid.join(
        hourly,
        (grid.user_id == hourly.user_id) & (grid.g == hourly.h),
        "left",
    ).select(grid.user_id, "g", "n", "sv")
    return jobs.forward_fill(joined, "user_id", "g", ["sv"]).select(
        "user_id",
        F.unix_seconds("g").alias("hour_s"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.col("sv").alias("sum_filled"),
        F.col("n").isNull().alias("is_filled"),
    )


@query(
    "ts_ewma",
    category="E.window",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       list_reduce(list(value ORDER BY ts, event_id),
                   (s, x) -> x * 0.5 + s * 0.5) AS ewma_last
FROM events
GROUP BY user_id
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (s_t = α·x_t +
    (1−α)·s_{t−1}, s_0 = x_0, α = 0.5), reporting the final smoothed
    value — the classic recursive time-series fold that has no
    order-free SQL form.

    Float discipline (ARCHITECTURE.md §4): both engines LEFT-FOLD the
    same (ts, event_id)-ordered list seeded with its first element
    (Spark `aggregate(slice(vals, 2, …), vals[1], …)` ≡ DuckDB
    `list_reduce`). α = 0.5 makes both multiplications EXACT in binary
    (exponent decrement), so each step performs one identical rounded
    addition — bit-identical results regardless of partitioning.

    Scale: one shuffle keyed by user_id; per-group state is the user's
    event list (bounded by per-user activity, not corpus size). For
    unbounded keys the same fold runs incrementally as a streaming
    stateful op (carry s_t in applyInPandasWithState) — this is its
    batch twin."""
    ev = Tables(spark, sf_dir).events
    vals = F.transform(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda e: e.getField("value"),
    )
    half = F.lit(0.5)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.aggregate(
            F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
            F.element_at(vals, 1),
            lambda s, x: x * half + s * half,
        ).alias("ewma_last"),
    )


@query(
    "concurrency_peak",
    category="E.window",
    oracle="""
WITH deltas AS (
  SELECT event_type, ts::TIMESTAMP AS t, 1 AS d FROM events
  UNION ALL
  SELECT event_type, ts::TIMESTAMP + INTERVAL 5 MINUTE, -1 FROM events
),
running AS (
  SELECT event_type,
         sum(d) OVER (PARTITION BY event_type ORDER BY t, d
                      ROWS UNBOUNDED PRECEDING) AS conc
  FROM deltas
)
SELECT event_type,
       max(conc)::BIGINT AS peak_concurrency,
       count(*) // 2 AS n_intervals
FROM running GROUP BY event_type
""",
)
def concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type, treating each event as a
    half-open 5-minute interval [ts, ts+5m): the classic sweep-line —
    every interval contributes (+1 at start, −1 at end), a running sum
    ordered by (t, d) walks the timeline (d sorts −1 before +1, so an
    interval ending exactly when another starts never double-counts),
    and the max of the running sum is the peak.

    Determinism with ties: rows tied on (t, d) carry the SAME delta, so
    the running sum visits the same value sequence whatever their
    relative order — max is well-defined, which is what lets an exact
    hash gate check a window over a non-unique ordering.

    Scale: the union doubles rows but stays narrow (type, t, ±1); the
    single shuffle partitions by event_type. For a hot single type,
    range-partition by (type, time-bucket), take per-bucket peaks and
    carry bucket-boundary offsets — the standard segmented sweep."""
    ev = Tables(spark, sf_dir).events
    starts = ev.select("event_type", F.col("ts").alias("t"), F.lit(1).alias("d"))
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("t"),
        F.lit(-1).alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        starts.unionAll(ends)
        .select("event_type", F.sum("d").over(w).alias("conc"))
        .groupBy("event_type")
        .agg(
            F.max("conc").alias("peak_concurrency"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        )
    )


@query(
    "cohort_retention",
    category="D.agg",
    oracle="""
WITH weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts::TIMESTAMP) AS wk FROM events
),
cohorts AS (
  SELECT user_id, min(wk) AS cohort_wk FROM weeks GROUP BY user_id
)
SELECT epoch_us(cohort_wk) // 1000000 AS cohort_week_s,
       date_diff('day', cohort_wk, wk) // 7 AS week_index,
       count(*) AS n_users
FROM weeks JOIN cohorts USING (user_id)
GROUP BY 1, 2
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users are cohorted by their first
    active week; each (cohort, weeks-since) cell counts users still
    active — THE product-analytics query. Plan: one distinct
    (user, week) reduction (the only pass over raw events), then each
    user's first week as ``min(wk)`` over a ``user_id`` window on those
    distinct rows — no per-user aggregate joined back, so the weeks
    subtree is planned and run once — and a small agg. Three exchanges:
    the distinct on (user_id, wk), the window's on user_id, and the
    final cells', which are O(weeks²) regardless of user count. Rows
    with a NULL ``user_id`` are dropped (the oracle's join drops them);
    a NULL week still counts, in a NULL cell.

    Parity notes: both engines truncate weeks to Monday 00:00; the
    week index divides a day difference that is an exact multiple of 7
    (both operands are week-truncs) so integer //7 is exact; the week
    itself crosses engines as an integer epoch (ARCHITECTURE.md §4 —
    DuckDB's epoch() rounds, epoch_us // 1e6 truncates like Spark)."""
    ev = Tables(spark, sf_dir).events
    weeks = (
        ev.filter(F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("week", "ts").alias("wk"))
        .distinct()
    )
    cohort_wk = F.min("wk").over(Window.partitionBy("user_id"))
    return (
        weeks.select("wk", cohort_wk.alias("cohort_wk"))
        .groupBy(
            F.unix_seconds("cohort_wk").alias("cohort_week_s"),
            (F.datediff("wk", "cohort_wk") / 7).cast("long").alias("week_index"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "ts_interpolate",
    category="E.window",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts::TIMESTAMP) AS h,
         count(*) AS n,
         sum(value::DECIMAL(18,2))::DOUBLE / count(*) AS mv
  FROM events WHERE user_id % 20 = 0 GROUP BY 1, 2
),
bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS g
  FROM bounds
),
joined AS (
  SELECT grid.user_id, g, n, mv,
         last_value(mv IGNORE NULLS)
           OVER (PARTITION BY grid.user_id ORDER BY g
                 ROWS UNBOUNDED PRECEDING) AS prev_v,
         last_value(CASE WHEN mv IS NOT NULL THEN g END IGNORE NULLS)
           OVER (PARTITION BY grid.user_id ORDER BY g
                 ROWS UNBOUNDED PRECEDING) AS prev_t,
         first_value(mv IGNORE NULLS)
           OVER (PARTITION BY grid.user_id ORDER BY g
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN mv IS NOT NULL THEN g END IGNORE NULLS)
           OVER (PARTITION BY grid.user_id ORDER BY g
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM grid LEFT JOIN hourly ON grid.user_id = hourly.user_id AND g = h
)
SELECT user_id,
       epoch_us(g) // 1000000 AS hour_s,
       CASE WHEN n IS NOT NULL THEN mv
            ELSE prev_v + (next_v - prev_v)
                 * ((epoch_us(g) // 1000000 - epoch_us(prev_t) // 1000000)::DOUBLE
                    / (epoch_us(next_t) // 1000000 - epoch_us(prev_t) // 1000000)::DOUBLE)
       END AS v_interp,
       (n IS NULL) AS is_interp
FROM joined
""",
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + LINEAR interpolation: each user's events
    become a dense hourly grid; missing hours get the straight line
    between the neighbouring observed hourly means (``ts_fill_forward``
    is the step-fill twin; this is the interpolating one — what feature
    pipelines feed to models that can't see gap markers).

    Plan shape: one shuffle for the hourly agg; the per-user grid comes
    from ``sequence()`` (never a global calendar crossJoin); prev/next
    observed (value, time) pairs are two IGNORE NULLS window passes over
    the SAME (user_id, g) sort — Catalyst runs all four window exprs in
    two Window nodes on one Exchange.

    Float discipline (ARCHITECTURE.md §4): hourly means divide an exact
    decimal sum by an exact count; the interpolation weight divides two
    exact epoch-second integers; both engines then evaluate the
    identical ``prev + (next-prev) * w`` double expression on identical
    operands — bit-equal without rounding. Grid edges are always
    observed hours (min/max come from the data), so prev/next never
    NULL on interpolated rows. Demo users capped by a deterministic
    modulo filter pushed to the scan (VERDICT r6 §next #2)."""
    ev = Tables(spark, sf_dir).events.filter(F.col("user_id") % 20 == 0)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        davg("value").alias("mv"),
    )
    grid = hour_span(hourly, "user_id")
    joined = grid.join(
        hourly,
        (grid.user_id == hourly.user_id) & (grid.g == hourly.h),
        "left",
    ).select(grid.user_id, "g", "n", "mv")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # "next observed" via a DESCENDING running frame, NOT a
    # [current, unbounded following] frame: Spark's
    # UnboundedFollowing window frame re-aggregates from scratch per
    # row (O(n²) per partition — measured 14s for 1M grid rows), while
    # running frames fold incrementally (O(n) — 2.5s). Same values:
    # the last non-null in DESC order up to the current row IS the
    # nearest following observed value in ASC order.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("g"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_t = F.when(F.col("mv").isNotNull(), F.col("g"))
    # NAMED window outputs (the emb_quantize lesson applied to windows):
    # inlining these Columns into the final expression instantiates a
    # window function per textual occurrence (prev_t appears twice in
    # the weight alone) — naming them evaluates each ONCE (1.8× at
    # sf0.1).
    named = joined.select(
        "user_id",
        "g",
        "n",
        "mv",
        F.last("mv", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(obs_t, ignorenulls=True).over(wb).alias("prev_t"),
        F.last("mv", ignorenulls=True).over(wf).alias("next_v"),
        F.last(obs_t, ignorenulls=True).over(wf).alias("next_t"),
    )
    w = (F.unix_seconds("g") - F.unix_seconds("prev_t")).cast("double") / (
        F.unix_seconds("next_t") - F.unix_seconds("prev_t")
    ).cast("double")
    return named.select(
        "user_id",
        F.unix_seconds("g").alias("hour_s"),
        F.when(F.col("n").isNotNull(), F.col("mv"))
        .otherwise(F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * w)
        .alias("v_interp"),
        F.col("n").isNull().alias("is_interp"),
    )


@query(
    "ts_mad_outliers",
    category="E.window",
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type, median(abs(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - m.med) / (1.4826 * d.mad), 4) AS rz
FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
WHERE abs((e.value - m.med) / (1.4826 * d.mad)) > 3.0
""",
)
def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flagging via median / MAD — the heavy-tail-safe
    twin of ``anomaly_zscore`` (mean/std move with the outliers they're
    meant to find; the median and the median absolute deviation don't).
    rz = (x − med) / (1.4826·mad) is the standard consistency-scaled
    robust z; |rz| > 3 flags.

    Plan: two exact-percentile aggregations (events → per-type median,
    then per-type MAD over |x − med| after a 5-row broadcast joins the
    medians back), then one more broadcast of the 5-row stats dim onto
    the full scan — two shuffles total, both keyed by the 5-value
    event_type. Exact interpolated medians are order-free (sorted-group
    interpolation, same arithmetic both engines — the agg_percentile
    precedent), so the threshold can't flip a borderline row across
    engines or partitionings. At 100 TB swap the exact medians for
    approx_percentile sketches; the flagging join is unchanged."""
    ev = Tables(spark, sf_dir).events
    # cache: the 5-row median frame feeds the MAD branch AND the stats
    # join — uncached, the median's corpus pass plans twice (the
    # duplicated-subtree trap); 4 scans drop to the algorithmic
    # minimum of 3 (median, MAD, flag)
    med = (
        ev.groupBy("event_type").agg(F.median("value").alias("med")).cache()
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    stats = med.join(mad, "event_type")
    # try_divide: a degenerate group (mad = 0 on a shrunken fixture)
    # yields NULL exactly like DuckDB's x/0, and |NULL| > 3 filters out
    rz = F.try_divide(
        F.col("value") - F.col("med"), F.lit(1.4826) * F.col("mad")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(rz) > 3.0)
        .select("event_id", "event_type", "value", F.round(rz, 4).alias("rz"))
    )


@query(
    "ts_holt",
    category="E.window",
    oracle="""
WITH RECURSIVE series AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
),
holt AS (
  SELECT user_id, 1::BIGINT AS i, value::DOUBLE AS l, 0.0::DOUBLE AS b
  FROM series WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.i,
         s.value * 0.5 + (h.l + h.b) * 0.5,
         ((s.value * 0.5 + (h.l + h.b) * 0.5) - h.l) * 0.5 + h.b * 0.5
  FROM holt h JOIN series s ON s.user_id = h.user_id AND s.i = h.i + 1
),
last AS (SELECT user_id, max(i) AS n_events FROM holt GROUP BY 1)
SELECT h.user_id, last.n_events, h.l AS level_last, h.b AS trend_last,
       h.l + h.b AS forecast_next
FROM holt h JOIN last ON h.user_id = last.user_id AND h.i = last.n_events
""",
)
def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per user (level + trend state,
    α = β = 0.5), reporting the final state and the one-step forecast —
    the trend-aware upgrade of ``ts_ewma`` and the canonical SECOND-ORDER
    recursive fold: the state is a (level, trend) STRUCT, not a scalar,
    so this pins the struct-accumulator form of F.aggregate that any
    stateful-model scoring pass needs.

    Float discipline (ARCHITECTURE.md §4, ts_ewma extended): both
    engines left-fold the identical (ts, event_id)-ordered list from the
    identical seed (l₁ = x₁, b₁ = 0); α = β = 0.5 makes every multiply
    exact (exponent decrement), and the remaining adds appear in
    textually identical association on both sides — bit-equal results,
    no rounding. The oracle is a RECURSIVE CTE, not a list_reduce:
    DuckDB 1.0's list_reduce evaluates struct fields IN PLACE
    sequentially (a later field expression reading s.<field> sees the
    value a prior field just wrote — verified: {a: s.a+x.a, c: s.a}
    folds to c == final a), so any multi-field accumulator silently
    corrupts; the CTE carries (l, b) through row-indexed self-joins
    instead, one recursion step per series position.

    Scale: one shuffle keyed by user_id; per-group state is the user's
    ordered value list (bounded by per-user activity). The streaming
    twin carries {l, b} in applyInPandasWithState exactly like
    first_seen_users carries its seen-set. NULL contract: series =
    non-null observations of a non-null entity (ts_cusum note)."""
    ev = Tables(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    vals = F.transform(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda e: e.getField("value"),
    )
    half = F.lit(0.5)
    seed = F.struct(
        F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("b")
    )
    new_l = lambda s, x: x * half + (s.getField("l") + s.getField("b")) * half
    st = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        seed,
        lambda s, x: F.struct(
            new_l(s, x).alias("l"),
            (
                (new_l(s, x) - s.getField("l")) * half
                + s.getField("b") * half
            ).alias("b"),
        ),
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        st.getField("l").alias("level_last"),
        st.getField("b").alias("trend_last"),
        (st.getField("l") + st.getField("b")).alias("forecast_next"),
    )


@query(
    "ts_ohlc",
    category="E.window",
    oracle="""
-- open/close = value at the lexicographic (ts, event_id) min/max.
-- Spelled arg_min/arg_max over a HUGEINT composite key rather than
-- min(STRUCT): DuckDB 1.0's struct min/max aggregate is super-linear
-- in group count and ignores memory_limit (~1M groups at sf1 ground
-- >10 min and ballooned past 60 GB RSS before the kernel OOM-killed
-- the sweep; this spelling finishes in ~7 s). Equivalent because
-- event_id is a non-null unique key (ingest contract) < 1e12, so
-- epoch_us*1e12 + event_id orders exactly like (ts, event_id) and the
-- struct's v field never participates in the comparison. The {'v': x}
-- wrapper keeps a NULL value at the winning row (bare arg_min SKIPS
-- NULL args; Spark's struct-min preserves them).
SELECT user_id,
       epoch_us(date_trunc('hour', ts::TIMESTAMP)) // 1000000 AS hour_s,
       count(*) AS n,
       (arg_min({'v': value::DOUBLE},
                epoch_us(ts::TIMESTAMP)::HUGEINT * 1000000000000 + event_id)).v
         AS open_v,
       max(value) AS high_v,
       min(value) AS low_v,
       (arg_max({'v': value::DOUBLE},
                epoch_us(ts::TIMESTAMP)::HUGEINT * 1000000000000 + event_id)).v
         AS close_v
FROM events
GROUP BY 1, 2
""",
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (user, hour) open / high / low / close —
    the candlestick rollup every metrics store derives from raw ticks.
    Open and close are "value at min/max (ts, event_id)" computed as a
    lexicographic STRUCT min/max inside the ordinary aggregate — one
    shuffle, map-side combinable (struct min merges like any min),
    ZERO window functions. The struct tiebreak (event_id) makes
    first/last deterministic where min_by/arg_min on a tied ts would be
    engine-arbitrary — the same discipline as dedup_exact's survivor
    rule, applied to aggregation instead of a window sort.

    At 100 TB this shape matters: a window-based first/last needs a
    per-key sort; the struct-min form is a plain partial aggregate —
    same cost class as sum/max, mergeable in one pass and incrementally
    maintainable (matview_daily_rollup pattern)."""
    ev = Tables(spark, sf_dir).events
    o = F.struct("ts", "event_id", F.col("value").cast("double").alias("v"))
    return ev.groupBy(
        "user_id",
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("hour_s"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(o).getField("v").alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max(o).getField("v").alias("close_v"),
    )


@query(
    "ts_autocorr",
    category="E.window",
    oracle="""
WITH pairs AS (
  SELECT user_id, value AS x,
         lead(value) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS y
  FROM events
),
m AS (
  SELECT user_id,
         count(*)::DOUBLE AS n,
         sum(x::DECIMAL(19,2))::DOUBLE AS sx,
         sum(y::DECIMAL(19,2))::DOUBLE AS sy,
         sum((x::DECIMAL(19,2) * x::DECIMAL(19,2)))::DOUBLE AS sxx,
         sum((y::DECIMAL(19,2) * y::DECIMAL(19,2)))::DOUBLE AS syy,
         sum((x::DECIMAL(19,2) * y::DECIMAL(19,2)))::DOUBLE AS sxy
  FROM pairs WHERE y IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n::BIGINT AS n_pairs,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
         AS autocorr_lag1
FROM m
""",
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per user — the "is this series noise or
    signal?" screen a forecasting pipeline runs before fitting anything
    (near 0 → ts_ewma suffices; strongly positive → ts_holt's trend
    term earns its keep). Consecutive (ts, event_id)-ordered pairs come
    from ONE lead window; then the agg_corr exact-decimal-moments
    discipline (ARCHITECTURE.md §4): five moments summed as exact
    decimals (2-dp values ⇒ 4-dp products), one identical Pearson
    expression over identical operands both engines, 9-dp rounded.
    One shuffle (window + agg share the user_id partitioning —
    Exchange reuse)."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id",
        F.col("value").alias("x"),
        F.lead("value").over(w).alias("y"),
    ).where(F.col("y").isNotNull())
    # 19,2 forces DuckDB's int128 multiply path (width-18 products
    # overflow int64 storage at the ×1e5 magnitude envelope) — see
    # agg_corr's cast note.
    dx = F.col("x").cast("decimal(19,2)")
    dy = F.col("y").cast("decimal(19,2)")
    m = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dy * dy).cast("double").alias("syy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
    )
    # try_divide: a constant-value user zeroes both variances — ANSI
    # `/` throws where DuckDB yields NULL (constant-fixture audit);
    # identical on every nonzero path.
    r = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
    )
    return m.select(
        "user_id",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(r, 9).alias("autocorr_lag1"),
    )


@query(
    "ts_holt_seasonal",
    category="E.window",
    oracle="""
WITH RECURSIVE
obs AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
),
gm AS (SELECT sum(value::DECIMAL(18,2))::DOUBLE / count(*) AS m FROM obs),
sz AS (
  SELECT hour(ts) AS h,
         sum(value::DECIMAL(18,2))::DOUBLE / count(*) - gm.m AS s
  FROM obs CROSS JOIN gm GROUP BY hour(ts), gm.m
),
series AS (
  SELECT e.user_id, e.value - sz.s AS x, hour(e.ts) AS h,
         row_number() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS i
  FROM obs e JOIN sz ON sz.h = hour(e.ts)
),
holt AS (
  SELECT user_id, 1::BIGINT AS i, x AS l, 0.0::DOUBLE AS b
  FROM series WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.i,
         s.x * 0.5 + (h.l + h.b) * 0.5,
         ((s.x * 0.5 + (h.l + h.b) * 0.5) - h.l) * 0.5 + h.b * 0.5
  FROM holt h JOIN series s ON s.user_id = h.user_id AND s.i = h.i + 1
),
last AS (
  SELECT user_id, max(i) AS n_events FROM holt GROUP BY 1
),
lasth AS (
  SELECT user_id, h AS h_last FROM series s
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY i DESC) = 1
)
SELECT h.user_id, last.n_events, h.l AS level_last, h.b AS trend_last,
       h.l + h.b + nz.s AS forecast_next
FROM holt h
JOIN last ON h.user_id = last.user_id AND h.i = last.n_events
JOIN lasth ON lasth.user_id = h.user_id
JOIN sz nz ON nz.h = (lasth.h_last + 1) % 24
""",
)
def ts_holt_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal exponential smoothing in the two-pass production form:
    (1) an ADDITIVE hour-of-day seasonal index from exact decimal means
    (hourly mean − global mean, each a single division — the
    ts_seasonality discipline), broadcast as one hour-keyed map (users
    whose NEXT hour has no index on a short fixture are dropped,
    mirroring the oracle's inner re-seasonalizing join); (2) the
    ``ts_holt`` α=β=½ level+trend fold over the DESEASONALIZED series,
    re-seasonalizing the one-step forecast with the next hour's index.
    This is how pipelines actually run Holt-Winters at scale — frozen
    seasonal profile from history, cheap (level, trend) state per entity
    — and it completes the smoothing family (ts_ewma → ts_holt →
    seasonal) without the 24-slot recursive state a full HW fold would
    need. Bit-exact cross-engine: the index is deterministic division
    arithmetic, subtraction and the ½-weighted fold are exact IEEE ops
    in identical association, seed l₁ = x′₁, b₁ = 0.

    Plan: one events scan for the 24-row index (partial agg), one for
    the fold (user_id shuffle); the index rides a broadcast cross-join.
    NULL contract: the whole operator (seasonal index AND per-entity
    fold) consumes the non-null observation stream of non-null
    entities, mirrored by the oracle's obs CTE (ts_cusum note).
    """
    ev = Tables(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    gm = ev.agg(
        davg("value").alias("m")
    )
    sz = (
        ev.groupBy(F.hour("ts").alias("h"))
        .agg(
            davg("value").alias("hm")
        )
        .crossJoin(F.broadcast(gm))
        .select("h", (F.col("hm") - F.col("m")).alias("s"))
    )
    # hour-KEYED map, not a positional array: with hours missing from a
    # shrunken fixture a 24-slot positional index is off-by-rank (and
    # ANSI element_at throws out-of-bounds) while the oracle joins on
    # the hour value — the keyed lookup mirrors the join exactly.
    sarr = sz.agg(
        F.map_from_entries(F.collect_list(F.struct("h", "s"))).alias("smap")
    )
    deseason = ev.crossJoin(F.broadcast(sarr)).select(
        "user_id",
        "ts",
        "event_id",
        F.hour("ts").alias("h"),
        (
            # own hour always present (sz is built from these events)
            F.col("value") - F.element_at(F.col("smap"), F.hour("ts"))
        ).alias("x"),
        F.col("smap"),
    )
    vals = F.transform(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "x"))),
        lambda e: e.getField("x"),
    )
    last_h = F.element_at(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "h"))),
            lambda e: e.getField("h"),
        ),
        -1,
    )
    half = F.lit(0.5)
    seed = F.struct(F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("b"))
    new_l = lambda s, x: x * half + (s.getField("l") + s.getField("b")) * half
    st = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        seed,
        lambda s, x: F.struct(
            new_l(s, x).alias("l"),
            (
                (new_l(s, x) - s.getField("l")) * half
                + s.getField("b") * half
            ).alias("b"),
        ),
    )
    # the NEXT hour's index can be absent on a short fixture; the oracle
    # re-seasonalizes via an INNER join on (h_last+1)%24 and silently
    # drops such users — try_element_at → NULL → the filter mirrors it.
    next_s = F.try_element_at(F.first("smap"), (last_h + 1) % 24)
    return (
        deseason.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            st.getField("l").alias("level_last"),
            st.getField("b").alias("trend_last"),
            (st.getField("l") + st.getField("b") + next_s).alias(
                "forecast_next"
            ),
        )
        .where(F.col("forecast_next").isNotNull())
    )


@query(
    "rec_lift_pairs",
    category="D.agg",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
item AS (SELECT l_partkey, count(*) AS n_item FROM op GROUP BY 1),
pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT part_a, part_b, n_ab,
       round((p.n_ab * n.n_orders)::DOUBLE / (ia.n_item * ib.n_item), 6)
         AS lift
FROM pair p
JOIN item ia ON ia.l_partkey = p.part_a
JOIN item ib ON ib.l_partkey = p.part_b
CROSS JOIN n
QUALIFY row_number() OVER (ORDER BY lift DESC, part_a, part_b) <= 20
""",
)
def rec_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining: the 20 part pairs with the highest LIFT
    (P(ab)/(P(a)·P(b)), min support 3 baskets) — the market-basket
    recommendation score, computed as (n_ab · N)/(n_a · n_b): ALL
    integer products with ONE final division, so the ranking key is
    bit-deterministic cross-engine (with a (part_a, part_b) tiebreak
    for equal lifts). Reuses the cooccur_parts basket-local pair plan —
    the per-item counts broadcast onto the pair aggregate, the global
    basket count rides a 1-row cross join, and the top-20 runs on the
    already-aggregated pair relation (bounded single-partition sort,
    the topk_global discipline)."""
    li = Tables(spark, sf_dir).lineitem
    # basket form (round-13, the cooccur_parts/_baskets discipline):
    # one collect_set exchange feeds the basket count, the per-item
    # counts AND the pair generation — the old distinct().cache() fed
    # four copies and the pair side still self-joined (two passes over
    # the interaction stream)
    baskets = _baskets(li).cache()
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    item = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pair = (
        _basket_pairs(baskets, directed=False)
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("na"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("nb"))
    scored = (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.desc("lift"), "part_a", "part_b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


_BENFORD_DIGITS = list(range(1, 10))


@query(
    "stat_benford",
    category="D.agg",
    oracle="""
WITH pos AS (SELECT event_type, value FROM events WHERE value >= 1.0),
digits AS (
  SELECT event_type,
         floor(value / power(10, floor(log10(value))))::BIGINT AS d
  FROM pos
),
n AS (SELECT event_type, count(*) AS n_values FROM digits GROUP BY 1)
SELECT d.event_type, d.d AS digit, count(*) AS n,
       round(count(*)::DOUBLE / n.n_values, 6) AS share,
       round(log10(1.0 + 1.0 / d.d), 6) AS benford_share
FROM digits d JOIN n USING (event_type)
GROUP BY d.event_type, d.d, n.n_values
""",
)
def stat_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen: observed vs theoretical first-significant-
    digit distribution of event values per type — the classic
    fabricated-data / instrumentation-bug detector. The digit extraction
    floor(v / 10^⌊log10 v⌋) and the reference shares log10(1 + 1/d) use
    the engines' shared libm (scalar_trig parity precedent; ties at
    exact powers of 10 cannot flip because 2-dp values hit them exactly
    and log10 of an exact power is exact); observed share is one
    division of exact counts. Values < 1 are excluded (their first
    significant digit needs a different normalization — a WHERE, not a
    special case). One scan, one (type, digit) partial-agg shuffle."""
    ev = Tables(spark, sf_dir).events
    pos = ev.filter(F.col("value") >= 1.0)
    digits = pos.select(
        "event_type",
        (F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value"))))
        .cast("long")
        .alias("d"),
    )
    counts = digits.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("n")
    )
    n = counts.groupBy("event_type").agg(F.sum("n").alias("n_values"))
    return counts.join(F.broadcast(n), "event_type").select(
        "event_type",
        F.col("d").alias("digit"),
        "n",
        F.round(F.col("n").cast("double") / F.col("n_values"), 6).alias("share"),
        F.round(F.log10(1.0 + 1.0 / F.col("d")), 6).alias("benford_share"),
    )


@query(
    "rec_item_cosine",
    category="D.agg",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ic AS (SELECT l_partkey, count(*) AS c FROM op GROUP BY 1),
pc AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS n_both
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT pc.part_a, pc.part_b, pc.n_both,
       round(pc.n_both / sqrt(ca.c::DOUBLE * cb.c), 6) AS cosine
FROM pc JOIN ic ca ON pc.part_a = ca.l_partkey
        JOIN ic cb ON pc.part_b = cb.l_partkey
""",
)
def rec_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item–item COSINE similarity over binary basket vectors —
    cos(a,b) = |A∩B| / √(|A|·|B|) — the other classic co-occurrence
    score next to ``rec_lift_pairs``'s lift: cosine normalizes away
    item popularity, so "bought together beyond chance" pairs rank
    above "both just popular" pairs. All inputs are INTEGER counts;
    one sqrt + one division at the end — exact at 6 dp.

    Plan (round-13 optimization, guide §2.4 — mirrors cooccur_parts):
    the pair counts come from the BASKET form — one map-side-combined
    groupBy(l_orderkey).collect_set exchange, pairs generated
    basket-locally by a JVM transform (pair blowup bounded per order,
    never global) — and the per-item counts are a |parts|-row dimension
    joined in BROADCAST. The round-12 self-join form shuffled the
    interaction stream twice (distinct + join); this crosses once. At
    100 TB the per-item table still broadcasts (items ≪ interactions).
    """
    li = Tables(spark, sf_dir).lineitem
    # baskets feeds 2 logical copies (pair generation + item counts) —
    # cache it or each copy re-plans the whole subtree (ReuseExchange
    # does not dedupe logical duplicates, ARCHITECTURE §13); ic feeds 2
    # (both cosine denominator sides)
    baskets = _baskets(li).cache()
    ic = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    pc = (
        _basket_pairs(baskets, directed=False)
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= 2)
    )
    ca = ic.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    cb = ic.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pc.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(
                F.col("n_both")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("cosine"),
        )
    )


@query(
    "rec_covisit_topk",
    category="D.agg",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part, b.l_partkey AS rec, count(*) AS n
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
rk AS (
  SELECT part, rec, n,
         row_number() OVER (PARTITION BY part ORDER BY n DESC, rec) AS r
  FROM pairs
)
SELECT part, rec, n::BIGINT AS n_orders, r::BIGINT AS rk
FROM rk WHERE r <= 3
""",
)
def rec_covisit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-visitation candidate generation: for every part, the top-3
    parts most often co-ordered with it — the retrieval stage of a
    two-tower-free recommender (the pattern that won the OTTO/Kaggle
    covisit era, and the candidate generator in front of rec_item_cosine's
    scorer). Directed pairs (both (a,b) and (b,a)) because each anchor
    ranks its OWN neighbors; the truncating row_number window is
    partitioned per anchor part, so the rank sort is per-part local and
    the output is |parts|×3 however big the corpus is. Same basket-local
    discipline as cooccur_parts (round-13: the basket form — one
    map-side-combined collect_set exchange, DIRECTED pairs generated
    basket-locally by a JVM transform — replaced the distinct +
    self-join, which shuffled the interaction stream twice); skewed
    mega-baskets remain the thing to cap/salt at 100 TB. Counts are
    integers; ties break on the smaller partkey — fully deterministic,
    no floats anywhere."""
    li = Tables(spark, sf_dir).lineitem
    pairs = (
        _basket_pairs(_baskets(li), directed=True)
        .select(F.col("part_a").alias("part"), F.col("part_b").alias("rec"))
        .groupBy("part", "rec")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("part").orderBy(F.col("n").desc(), F.col("rec"))
    return (
        pairs.select(
            "part", "rec", "n", F.row_number().over(w).alias("r")
        )
        .where(F.col("r") <= 3)
        .select(
            "part",
            "rec",
            F.col("n").cast("long").alias("n_orders"),
            F.col("r").cast("long").alias("rk"),
        )
    )


@query(
    "ts_holt_winters",
    category="E.window",
    oracle="""
WITH RECURSIVE bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
c AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1),
series AS (
  SELECT row_number() OVER (ORDER BY g.h) AS i, coalesce(c.n, 0)::DOUBLE AS x
  FROM grid g LEFT JOIN c ON g.h = c.h
),
xs AS (SELECT list(x ORDER BY i) AS v, count(*) AS n FROM series),
seed AS (
  SELECT 24::BIGINT AS i,
         list_sum(v[1:24]) / 24.0 AS l,
         0.0::DOUBLE AS b,
         list_transform(v[1:24], e -> e - list_sum(v[1:24]) / 24.0) AS seas
  FROM xs
),
hw AS (
  SELECT i, l, b, seas FROM seed
  UNION ALL
  SELECT s.i,
         (s.x - h.seas[1]) * 0.5 + (h.l + h.b) * 0.5,
         (((s.x - h.seas[1]) * 0.5 + (h.l + h.b) * 0.5) - h.l) * 0.5
           + h.b * 0.5,
         list_append(
           h.seas[2:24],
           (s.x - ((s.x - h.seas[1]) * 0.5 + (h.l + h.b) * 0.5)) * 0.5
             + h.seas[1] * 0.5)
  FROM hw h JOIN series s ON s.i = h.i + 1
)
SELECT xs.n::BIGINT AS n_hours, h.l AS level_last, h.b AS trend_last,
       h.l + 1 * h.b + h.seas[1] AS forecast_1h,
       h.l + 2 * h.b + h.seas[2] AS forecast_2h,
       h.l + 3 * h.b + h.seas[3] AS forecast_3h
FROM hw h, xs WHERE h.i = xs.n
""",
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + 24-hour SEASON vector,
    α = β = γ = 0.5) on the densified global hourly event-count series
    — the third rung of the exponential ladder (ewma → holt →
    holt-winters), forecasting the next three hours with the daily
    cycle restored. Distinct from ``ts_holt_seasonal``, which
    deseasonalizes per-user series against STATIC hour-of-day means
    before a plain Holt fit: here the season vector is model STATE,
    updated every step (γ-smoothing), so a drifting daily profile is
    tracked instead of frozen. The accumulator is now a
    (l, b, seas[24]) struct whose season component is a ROLLING QUEUE:
    each step consumes seas[1] (the value from exactly m hours ago) and
    appends the refreshed seasonal — F.aggregate carries the array
    through the fold; the oracle's recursive CTE carries a LIST through
    the recursion (the multi-field list_reduce corruption trap rules
    out any fold there, per ts_holt).

    Float discipline: seeded with the first-day mean (one division of
    an exact integer sum — identical doubles) and s_i = x_i − l₀;
    halves make every multiply exact and every add appears in
    textually identical association on both sides → bit-equal,
    unrounded. Scale: one hourly partial-agg shuffle; the fold runs
    once on the ~720-element calendar-bounded array (the ts_acf_multi
    densify-then-compute rule — series length is calendar-bounded, not
    data-bounded, at any SF)."""
    ev = Tables(spark, sf_dir).events
    series = hourly_counts(ev, name="x").select(
        "h", F.col("x").cast("double").alias("x")
    )
    xs = F.transform(
        F.sort_array(F.collect_list(F.struct("h", "x"))),
        lambda e: e.getField("x"),
    )
    # guard: the model needs one full 24h season to seed; the oracle's
    # recursive CTE (seed pinned at i=24) emits zero rows on a shorter
    # fixture, so mirror that here instead of folding an ill-defined
    # seed (round-7 ADVICE).
    one = series.agg(xs.alias("v"), F.count(F.lit(1)).alias("n")).where(
        F.col("n") >= 24
    )
    first24 = F.slice(F.col("v"), 1, 24)
    # seed mean written once via a named column (expression-inlining trap:
    # a repeated l0 Column would re-fold the 24-sum per reference)
    half = F.lit(0.5)
    seeded = one.select(
        "v",
        "n",
        (
            F.aggregate(first24, F.lit(0.0), lambda s, e: s + e) / F.lit(24.0)
        ).alias("l0"),
    ).select(
        "v",
        "n",
        F.struct(
            F.col("l0").alias("l"),
            F.lit(0.0).alias("b"),
            F.transform(first24, lambda e: e - F.col("l0")).alias("seas"),
        ).alias("st0"),
    )

    def step(s, x):
        lnew = (x - F.element_at(s.getField("seas"), 1)) * half + (
            s.getField("l") + s.getField("b")
        ) * half
        bnew = (lnew - s.getField("l")) * half + s.getField("b") * half
        snew = (x - lnew) * half + F.element_at(s.getField("seas"), 1) * half
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            F.concat(
                F.slice(s.getField("seas"), 2, 23), F.array(snew)
            ).alias("seas"),
        )

    folded = seeded.select(
        "n",
        F.aggregate(
            F.slice(F.col("v"), 25, F.greatest(F.size("v") - 24, F.lit(0))),
            F.col("st0"),
            step,
        ).alias("st"),
    )
    st = F.col("st")
    return folded.select(
        F.col("n").cast("long").alias("n_hours"),
        st.getField("l").alias("level_last"),
        st.getField("b").alias("trend_last"),
        (
            st.getField("l")
            + 1 * st.getField("b")
            + F.element_at(st.getField("seas"), 1)
        ).alias("forecast_1h"),
        (
            st.getField("l")
            + 2 * st.getField("b")
            + F.element_at(st.getField("seas"), 2)
        ).alias("forecast_2h"),
        (
            st.getField("l")
            + 3 * st.getField("b")
            + F.element_at(st.getField("seas"), 3)
        ).alias("forecast_3h"),
    )
