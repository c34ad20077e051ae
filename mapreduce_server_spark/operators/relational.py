"""Filters, projections and joins (SURVEY.md §2 cat. B + C).

MR expressions being replaced:
- filters/projections ≙ map-side `if`/transform [MR04 §2];
- reduce-side join ≙ tag + shuffle-on-key + per-key merge ≙ Spark
  sort-merge/shuffled-hash equi-join (planner's choice);
- map-side replicated join ≙ ``F.broadcast`` hash join.

Scale notes:
- Predicates/projections are expressed declaratively so Catalyst pushes
  them into the parquet scan (PushedFilters / ReadSchema — asserted in
  tests/test_plans.py).
- Dimension sides (region/nation/customer at TPC-H shape) are explicitly
  broadcast where the query's role is "map-side join"; elsewhere the
  planner decides (AQE converts to broadcast at runtime when a side turns
  out small).
- The as-of join uses the join+row_number form; at 100 TB a skewed key
  (one hot user) would make the per-key candidate set explode — the
  union-then-window trick (interleave both streams, `last(click) OVER
  (PARTITION BY user ORDER BY ts)`) keeps it linear per key and is what
  the streaming twin uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import jobs
from ..functions.numeric import dsum
from ..functions.series import hours
from ..registry import query
from ..sources.loader import Tables, fan_out_scan

# --------------------------------------------------------------------------
# B. filters / projections
# --------------------------------------------------------------------------


@query(
    "filter_pred",
    category="B.filter",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
FROM lineitem
WHERE l_quantity >= 30 AND l_discount <= 0.05 AND l_returnflag <> 'A'
""",
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison + boolean predicates (map-side `if` [MR04 §2])."""
    li = Tables(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_quantity") >= 30)
        & (F.col("l_discount") <= 0.05)
        & (F.col("l_returnflag") != "A")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")


@query(
    "filter_in_between",
    category="B.filter",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 50000 AND 250000
  AND o_orderpriority LIKE '%URGENT%'
""",
)
def filter_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / BETWEEN / LIKE membership predicates."""
    o = Tables(spark, sf_dir).orders
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(50000, 250000)
        & F.col("o_orderpriority").like("%URGENT%")
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


@query(
    "filter_grep",
    category="B.filter",
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE regexp_matches(text, 'spark (batch|stream)')
""",
)
def filter_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep [MR04 §2.3]: ``jobs.grep`` on the documents'
    text, a regex filter with no reduce."""
    d = Tables(spark, sf_dir).documents
    return jobs.grep(d, "text", "spark (batch|stream)").select("doc_id", "lang", "source")


@query(
    "project_compute",
    category="B.project",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  (l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(8,2))::DOUBLE
      AS revenue,
  l_extendedprice / l_quantity AS unit_price,
  year(l_shipdate)::BIGINT AS ship_year
FROM lineitem
WHERE l_orderkey % 50 = 0
""",
)
def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed columns (map emits transformed record [MR04 §2]). Demo
    rows capped by a deterministic modulo filter pushed to the scan
    (VERDICT r6 §next #2 — breadth bench measures plan, not transfer)."""
    li = Tables(spark, sf_dir).lineitem.filter(F.col("l_orderkey") % 50 == 0)
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (1 - F.col("l_discount")).cast("decimal(8,2)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (ep * disc).cast("double").alias("revenue"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        F.year("l_shipdate").cast("long").alias("ship_year"),
    )


@query(
    "project_null",
    category="B.project",
    oracle="""
SELECT
  o_orderkey,
  nullif(o_orderstatus, 'O') AS status_nulled,
  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
  (nullif(o_orderstatus, 'O') IS NULL) AS is_open
FROM orders
WHERE o_orderkey % 10 = 0
""",
)
def project_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI 3-valued NULL semantics (fixtures have no NULLs — synthesized
    via nullif, per SURVEY.md §2.B). Demo rows capped by a deterministic
    modulo filter pushed to the scan (VERDICT r6 §next #2)."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_orderkey") % 10 == 0)
    nulled = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        nulled.alias("status_nulled"),
        F.coalesce(nulled, F.lit("OPEN")).alias("status_filled"),
        nulled.isNull().alias("is_open"),
    )


# --------------------------------------------------------------------------
# C. joins
# --------------------------------------------------------------------------


@query(
    "q3_join_topk",
    category="C.join",
    tags=("flagship",),
    oracle="""
SELECT
  l_orderkey,
  sum(l_extendedprice::DECIMAL(18,2)
      * (1 - l_discount)::DECIMAL(8,2))::DOUBLE AS revenue,
  o_orderdate::DATE::VARCHAR AS o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-03-15'
  AND l_shipdate  > TIMESTAMP '2000-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship #2: TPC-H-Q3-shaped 3-way join + group + global top-k.

    Reduce-side equi-join [HADOOP] chain; Spark plans broadcast for the
    filtered customer side (AQE runtime size check) and
    TakeOrderedAndProject for the top-k — no full sort materialized.
    Tiebreak on l_orderkey makes the top-10 set deterministic.
    """
    t = Tables(spark, sf_dir)
    cut = F.lit("2000-03-15").cast("timestamp")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (1 - F.col("l_discount")).cast("decimal(8,2)")
    return (
        t.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(t.orders.filter(F.col("o_orderdate") < cut), F.col("c_custkey") == F.col("o_custkey"))
        .join(t.lineitem.filter(F.col("l_shipdate") > cut), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(ep * disc).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "join_broadcast",
    category="C.join",
    oracle="""
SELECT n_name, sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS nation_revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side replicated join [MR04 §4 / HADOOP]: small dims are
    broadcast to every task — no shuffle of the fact table for the join."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            dsum("o_totalprice").alias("nation_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "join_left",
    category="C.join",
    oracle="""
SELECT c_custkey, count(o_orderkey) AS n_big_orders
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) big
  ON c_custkey = o_custkey
GROUP BY c_custkey
""",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer, zero-counting those without
    qualifying orders (count(col) skips NULLs on both engines)."""
    t = Tables(spark, sf_dir)
    big = t.orders.filter(F.col("o_totalprice") > 300000)
    return (
        t.customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


@query(
    "join_right",
    category="C.join",
    oracle="""
SELECT s_suppkey, count(l_orderkey) AS n_max_qty
FROM (SELECT * FROM lineitem WHERE l_quantity >= 49) maxed
RIGHT JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey
""",
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (kept-side = supplier dim)."""
    t = Tables(spark, sf_dir)
    maxed = t.lineitem.filter(F.col("l_quantity") >= 49)
    return (
        maxed.join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"), "right")
        .groupBy("s_suppkey")
        .agg(F.count("l_orderkey").alias("n_max_qty"))
    )


@query(
    "join_full",
    category="C.join",
    oracle="""
SELECT
  coalesce(e.day, p.day)::VARCHAR AS day,
  e.n_err,
  p.n_pur
FROM (SELECT ts::DATE AS day, count(*) AS n_err
      FROM events WHERE event_type = 'error' AND value > 400 GROUP BY 1) e
FULL JOIN
     (SELECT ts::DATE AS day, count(*) AS n_pur
      FROM events WHERE event_type = 'purchase' AND value > 400 GROUP BY 1) p
  ON e.day = p.day
""",
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two sparse daily aggregates (NULLs on both
    sides where a day only has one kind of high-value event)."""
    ev = Tables(spark, sf_dir).events
    err = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 400))
        .groupBy(F.to_date("ts").alias("e_day"))
        .agg(F.count(F.lit(1)).alias("n_err"))
    )
    pur = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 400))
        .groupBy(F.to_date("ts").alias("p_day"))
        .agg(F.count(F.lit(1)).alias("n_pur"))
    )
    return err.join(pur, err.e_day == pur.p_day, "full").select(
        F.coalesce("e_day", "p_day").cast("string").alias("day"), "n_err", "n_pur"
    )


@query(
    "join_semi",
    category="C.join",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence (left-semi) join [HADOOP pattern]."""
    t = Tables(spark, sf_dir)
    big = t.orders.filter(F.col("o_totalprice") > 400000)
    return t.customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_mktsegment")


@query(
    "join_anti",
    category="C.join",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated existence (left-anti) join [HADOOP pattern]."""
    t = Tables(spark, sf_dir)
    big = t.orders.filter(F.col("o_totalprice") > 400000)
    return t.customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_mktsegment")


@query(
    "join_cross",
    category="C.join",
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — bounded demo (5 × 25); at scale cross joins are
    only ever sane with one broadcast side, which this plan uses."""
    t = Tables(spark, sf_dir)
    return t.region.crossJoin(F.broadcast(t.nation)).select("r_name", "n_name")


@query(
    "join_theta",
    category="C.join",
    oracle="""
SELECT s_nationkey AS nationkey, count(*) AS n_pairs
FROM supplier
JOIN customer
  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal + 5000
GROUP BY s_nationkey
""",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi-key plus non-equi predicate (planner keeps the
    hash/SMJ on the equi part and post-filters the band condition)."""
    t = Tables(spark, sf_dir)
    s, c = t.supplier, t.customer
    return (
        s.join(
            c,
            (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal + 5000),
        )
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "join_range",
    category="C.join",
    oracle="""
SELECT p.user_id, count(*) AS n_click_then_buy
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
GROUP BY p.user_id
""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/band join: clicks within the hour before each purchase.
    Equi on user_id bounds the candidate set; the band predicate is
    evaluated post-join (interval join at scale: bucketize ts and join
    on (user, bucket±1) to keep candidates linear)."""
    ev = Tables(spark, sf_dir).events
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    return (
        p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & F.col("c_ts").between(
                F.col("p_ts") - F.expr("INTERVAL 1 HOUR"), F.col("p_ts")
            ),
        )
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_click_then_buy"))
    )


@query(
    "join_asof",
    category="C.join",
    oracle="""
SELECT p.event_id, p.user_id, epoch_us(c.ts::TIMESTAMP) AS last_click_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at-or-before it.

    Spark lacks a native ASOF join; this uses the join+row_number form
    (candidates bounded by the user_id equi-key). DuckDB verifies with its
    native ASOF JOIN. Scale path for skewed keys: union both streams and
    take `last(click_ts, ignorenulls) OVER (PARTITION BY user ORDER BY
    ts)` — one shuffle, no candidate blow-up.
    """
    ev = Tables(spark, sf_dir).events
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = p.join(
        c, (p.user_id == F.col("c_user")) & (F.col("p_ts") >= F.col("c_ts"))
    )
    w = Window.partitionBy("event_id").orderBy(F.desc("c_ts"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id", "user_id", F.unix_micros("c_ts").alias("last_click_us")
        )
    )


@query(
    "join_self",
    category="C.join",
    oracle="""
SELECT s.user_id, count(*) AS n_funnel_pairs
FROM (SELECT * FROM events WHERE event_type = 'signup') s
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id AND s.ts < p.ts
GROUP BY s.user_id
""",
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join (reverse-link-graph shape [MR04 §2.3]): signup→purchase
    funnel pairs per user."""
    ev = Tables(spark, sf_dir).events
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return (
        s.join(p, (F.col("s_user") == F.col("p_user")) & (F.col("s_ts") < F.col("p_ts")))
        .groupBy(F.col("s_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_funnel_pairs"))
    )


@query(
    "join_inner",
    category="C.join",
    oracle="""
SELECT o_orderkey, o_totalprice, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 450000
""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain reduce-side equi-join [HADOOP] (q3_join_topk is the flagship
    composition; this is the bare operator under the SURVEY §2 key)."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_totalprice") > 450000)
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_mktsegment")
    )


@query(
    "join_bucketed",
    category="C.join",
    oracle="""
SELECT o_custkey AS custkey, count(*) AS n_orders,
       sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS total,
       max(c_mktsegment) AS segment
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY o_custkey
""",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written bucketBy(custkey) once,
    then joined WITHOUT a shuffle exchange — the 100 TB strategy for a
    join key that is hit repeatedly (bucket layout amortizes one shuffle
    across every future join on that key). tests/test_plans.py asserts the
    join has no Exchange. Results equal the plain join (the oracle)."""
    t = Tables(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    o_name, c_name = f"mrss_orders_b_{tag}", f"mrss_customer_b_{tag}"
    # external tables at an explicit repo-local path: the default managed
    # location is <session cwd>/spark-warehouse, which isn't ours to write
    # when a foreign session (the driver's) runs this query
    from ..scratch import SCRATCH, owned, touch

    scratch = os.path.join(SCRATCH, "bucketed")

    def ensure_bucketed(df, name: str, key: str) -> None:
        if spark.catalog.tableExists(name):
            # keep-alive (round-13 ADVICE): the catalog hit means we are
            # about to SCAN files written possibly hours ago — re-touch
            # them so a freshly started sibling's TTL sweep can never
            # classify a live application's bucketed table as stale
            # residue and delete it mid-reference.
            touch(os.path.join(scratch, f"{name}_p{os.getpid()}"))
            return
        import shutil

        # pid-tagged path (catalog names are already per-application;
        # the FILES must be per-process too) + atexit reclamation
        path = owned(os.path.join(scratch, f"{name}_p{os.getpid()}"))
        # a previous session's table directory may survive without a
        # catalog entry (in-memory catalog, persistent files) — clear it
        shutil.rmtree(path, ignore_errors=True)
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )

    ensure_bucketed(t.orders, o_name, "o_custkey")
    ensure_bucketed(t.customer, c_name, "c_custkey")
    o, c = spark.table(o_name), spark.table(c_name)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total"),
            F.max("c_mktsegment").alias("segment"),
        )
    )


@query(
    "join_salted",
    category="C.join",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_items,
       sum(l_extendedprice::DECIMAL(18,2)
           * (1 - l_discount)::DECIMAL(8,2))::DOUBLE AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via key salting, semantically IDENTICAL to the
    plain join (the oracle is the unsalted SQL): the build side (orders)
    is replicated S=8× with an explicit salt column, the probe side
    (lineitem) tags each row with a deterministic salt in [0, S), and
    the join key becomes (orderkey, salt) — so one hot orderkey's probe
    rows spread over 8 reducers instead of one.

    This is the manual form of what AQE's skew-join split does at
    runtime; it is spelled out as an operator because (a) static salting
    also covers aggregations and sort-merge paths AQE may not split, and
    (b) the parity gate proves the rewrite is result-transparent. Cost
    model: build side ×S rows through the shuffle (fine when the build
    side is the small table), probe side unchanged. The salt derives
    from l_linenumber (stable, uniform 1..7 here) rather than rand() —
    determinism is what makes the result reproducible and checkable.
    """
    t = Tables(spark, sf_dir)
    S = 8
    # round-13: fan out the build side before the ×8 salt explode
    # (guide §2.5; count + exact decimal sum — partitioning-invariant)
    orders_salted = fan_out_scan(t.orders, spark).withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
    )
    li_salted = t.lineitem.withColumn(
        "salt", (F.col("l_linenumber") % S).cast("int")
    )
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (1 - F.col("l_discount")).cast("decimal(8,2)")
    return (
        li_salted.join(
            orders_salted,
            (li_salted.l_orderkey == orders_salted.o_orderkey)
            & (li_salted.salt == orders_salted.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(ep * disc).cast("double").alias("revenue"),
        )
    )


@query(
    "join_lateral",
    category="C.join",
    oracle="""
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
     LATERAL (SELECT o_orderkey, o_totalprice
              FROM orders o
              WHERE o.o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey
              LIMIT 2) t
""",
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL front end — top-2
    orders per customer, the per-row-subquery shape (ANSI lateral
    derived table; Spark 4 supports it natively). Catalyst decorrelates
    it into the same window-top-k physical plan win_rownum_topk builds
    by hand (ARCHITECTURE.md §9's table gains its LATERAL row) — proof
    that the declarative rewrite, not the syntax, is what executes.
    Deterministic tiebreak (o_orderkey) because LIMIT under ties is
    engine-arbitrary otherwise. Customers with no orders vanish (inner
    lateral, matching the oracle)."""
    t = Tables(spark, sf_dir)
    t.customer.createOrReplaceTempView("mrss_customer")
    t.orders.createOrReplaceTempView("mrss_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM mrss_customer c,
             LATERAL (SELECT o_orderkey, o_totalprice
                      FROM mrss_orders o
                      WHERE o.o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey
                      LIMIT 2) t
        """
    )


@query(
    "join_bloom_runtime",
    category="C.join",
    tags=("side_effects",),
    oracle="""
SELECT count(*) AS n_lineitems,
       sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(8,2))::DOUBLE
         AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
""",
)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join (Catalyst ``InjectRuntimeFilter``): the
    selective filter on the orders side is compiled into a
    ``bloom_filter_agg`` scalar subquery whose ``might_contain`` probe is
    pushed onto the lineitem scan — fact rows whose key cannot join are
    dropped AT THE SCAN, before the shuffle. This is the at-scale shape
    for a 100 TB fact ⋈ selectively-filtered big dim where neither side
    broadcasts: the bloom costs one tiny agg and removes the dominant
    shuffle's dead traffic.

    On the local fixture every gate that makes this optimization
    worthwhile at scale points the other way (the filtered dim is
    broadcastable, the fact scan is far below the 10 GB application-side
    threshold), so the production-default confs are temporarily pinned to
    their at-scale outcome (no broadcast, threshold 0) while THIS plan is
    physically compiled, then restored — queries built afterwards in the
    same session are unaffected; this DataFrame's QueryExecution keeps
    its already-compiled bloom plan (tests/test_plans.py asserts
    ``might_contain`` in the physical plan and conf restoration).
    Exact-decimal revenue per the float discipline (functions/numeric)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = Tables(spark, sf_dir)
        o = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        li = t.lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        rev = F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)"))
        ).cast("double")
        out = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count(F.lit(1)).alias("n_lineitems"), rev.alias("revenue")
        )
        # Force logical optimization + physical planning NOW, while the
        # confs hold; collect() later reuses this QueryExecution.
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


@query(
    "join_interval_grid",
    category="C.join",
    oracle="""
SELECT a.user_id, count(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND b.ts <= a.ts + INTERVAL 5 MINUTE
 AND a.ts <= b.ts + INTERVAL 5 MINUTE
GROUP BY 1
""",
)
def join_interval_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join via grid bucketing — the scale-safe
    plan for "which activity windows overlap" (each event is a 5-minute
    interval [ts, ts+5m]). The oracle states the naive theta join; this
    plan never runs it: every interval lands in the hour cells it
    touches (≤ 2, since the interval is shorter than the cell), the join
    is a pure EQUI-join on (user_id, cell) — hash-partitionable, AQE-
    skew-splittable — and the overlap predicate only filters within a
    cell's candidates. Each qualifying pair is counted exactly once, in
    the cell containing the LATER start (the dedup-free trick: no
    distinct shuffle over pair keys).

    Why the cell width matters at 100 TB: cells ~ interval length bound
    the per-cell candidate set by local temporal density, turning an
    O(n² per key) theta join into Σ_cell O(k_cell²) with k_cell small;
    a naive per-user product explodes on any hot user while this plan
    only feels users hot WITHIN the same hour. All comparisons are
    exact integer-microsecond timestamps — no float in the predicate."""
    ev = Tables(spark, sf_dir).events.select("user_id", "event_id", "ts")
    iv = ev.withColumn("te", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    cells = iv.select(
        "user_id",
        "event_id",
        "ts",
        "te",
        F.explode(
            hours(F.date_trunc("hour", "ts"), F.date_trunc("hour", "te"))
        ).alias("cell"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("b.ts") <= F.col("a.te"))
        & (F.col("a.ts") <= F.col("b.te"))
        & (
            F.date_trunc("hour", F.greatest(F.col("a.ts"), F.col("b.ts")))
            == F.col("a.cell")
        ),
    )
    return (
        pairs.groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "join_asof_union",
    category="C.join",
    oracle="""
SELECT p.event_id, p.user_id, epoch_us(c.ts::TIMESTAMP) AS last_click_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def join_asof_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join's 100 TB form, implemented for real (join_asof's
    docstring only names it): UNION both event streams, ONE shuffle on
    user_id, and carry the latest click forward with a running
    `last(click_ts, ignorenulls)` frame — no candidate join, so a hot
    user costs O(n log n) sort instead of clicks x purchases pairs.
    Rows sort by (ts, kind, event_id) with clicks before purchases at
    equal ts, which reproduces the join form's inclusive `p.ts >= c.ts`
    exactly; purchases with no prior click drop (inner-asof semantics),
    matching DuckDB's native ASOF JOIN oracle — the same oracle
    join_asof verifies against, so the two physical strategies are
    pinned equal.

    NULL contract (round-11 axis): a JOIN never matches NULL keys, but
    a window PARTITION BY groups them together — so the union form
    must explicitly drop NULL-keyed rows to stay equal to the join
    form (a NULL-user purchase would otherwise inherit a NULL-user
    click). The filter is the semantic mirror of the oracle's equality
    predicate, not an extra predicate."""
    ev = Tables(spark, sf_dir).events
    both = ev.filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("user_id").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("kind"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("c_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = both.withColumn(
        "last_c_ts", F.last("c_ts", ignorenulls=True).over(w)
    )
    return (
        carried.filter((F.col("kind") == 1) & F.col("last_c_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.unix_micros("last_c_ts").alias("last_click_us"),
        )
    )


@query(
    "join_asof_forward",
    category="C.join",
    oracle="""
SELECT p.event_id, p.user_id, epoch_us(c.ts::TIMESTAMP) AS next_click_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts <= c.ts
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each purchase, the EARLIEST click at-or-
    after it (pandas ``merge_asof(direction='forward')``; the backward
    twin is ``join_asof``). Same join+row_number shape with the order
    flipped; DuckDB verifies with its native forward ASOF JOIN
    (``p.ts <= c.ts``). The union-form scale path flips too: ascending
    ts with ``first(click_ts, ignorenulls)`` over the FOLLOWING frame,
    or equivalently a descending running last — one shuffle, no
    candidate blow-up on hot users."""
    ev = Tables(spark, sf_dir).events
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = p.join(
        c, (p.user_id == F.col("c_user")) & (F.col("p_ts") <= F.col("c_ts"))
    )
    w = Window.partitionBy("event_id").orderBy(F.asc("c_ts"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id", "user_id", F.unix_micros("c_ts").alias("next_click_us")
        )
    )


@query(
    "join_asof_nearest",
    category="C.join",
    oracle="""
SELECT event_id, user_id, nearest_click_us
FROM (
  SELECT p.event_id, p.user_id,
         epoch_us(c.ts::TIMESTAMP) AS nearest_click_us,
         abs(epoch_us(p.ts::TIMESTAMP) - epoch_us(c.ts::TIMESTAMP)) AS d
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
)
QUALIFY row_number() OVER (PARTITION BY event_id
                           ORDER BY d, nearest_click_us) = 1
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: for each purchase, the click CLOSEST in time
    in either direction (pandas ``merge_asof(direction='nearest')``),
    earlier-click tiebreak on equidistant pairs. Distances are exact
    integer microsecond deltas, so the argmin is deterministic
    cross-engine. Completes the as-of family (backward ``join_asof``,
    forward ``join_asof_forward``, union-form ``join_asof_union``).
    Scale note: nearest needs BOTH neighbors, so the union form computes
    a backward running last and a forward running first in one ordered
    pass per user and keeps the closer — still one shuffle; the
    join+row_number form here stays candidate-bounded by the user_id
    equi-key."""
    ev = Tables(spark, sf_dir).events
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = p.join(c, p.user_id == F.col("c_user")).select(
        "event_id",
        "user_id",
        F.unix_micros("c_ts").alias("nearest_click_us"),
        F.abs(F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("d"),
    )
    w = Window.partitionBy("event_id").orderBy("d", "nearest_click_us")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "nearest_click_us")
    )


@query(
    "join_attribution",
    category="C.join",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts,
             min(json_extract_string(props, '$.k')::BIGINT % 10) AS campaign
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts),
attr AS (
  SELECT p.event_id, coalesce(c.campaign, -1) AS campaign, p.value
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT campaign,
       count(*) AS n_purchases,
       sum(value::DECIMAL(18,2))::DOUBLE AS revenue
FROM attr
GROUP BY campaign
""",
)
def join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase's value is credited
    to the CAMPAIGN of the user's latest click at-or-before it (campaign
    = click props.k mod 10 — the JSON-typed dimension), purchases with
    no prior click to the organic bucket −1 — the marketing-analytics
    query every events platform serves, composed from machinery already
    verified piecewise (backward as-of match, JSON extraction, decimal
    revenue sums). DuckDB verifies with a native ASOF LEFT JOIN. The
    Spark plan is the join+row_number as-of bounded by the user_id
    equi-key, then one (campaign)-keyed partial-agg shuffle; at 100 TB
    the as-of step flips to the union-form running last
    (join_asof_union) and the aggregate is unchanged.

    Determinism at same-instant clicks: ASOF picks an ARBITRARY row
    among clicks tied on ts, so clicks are first deduped to one row per
    (user, ts) with a fixed rule (min campaign) on BOTH engines, and
    the as-of window carries a campaign tiebreak — the argmax-
    determinism recipe (SURVEY §5.2) applied to last-touch."""
    ev = Tables(spark, sf_dir).events
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), "value"
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .agg(
            F.min(
                F.get_json_object("props", "$.k").cast("long") % 10
            ).alias("campaign")
        )
    )
    joined = p.join(
        c, (p.user_id == F.col("c_user")) & (F.col("p_ts") >= F.col("c_ts")), "left"
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc_nulls_last("c_ts"), "campaign"
    )
    attr = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            F.coalesce(F.col("campaign"), F.lit(-1)).alias("campaign"),
            "value",
        )
    )
    return attr.groupBy("campaign").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        dsum("value").alias("revenue"),
    )


@query(
    "join_shuffle_hash",
    category="C.join",
    oracle="""
SELECT o.o_orderpriority, count(*) AS n_items,
       sum(l.l_extendedprice::DECIMAL(18,2))::DOUBLE AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'O'
GROUP BY 1
""",
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD physical join strategy, requested explicitly: a
    SHUFFLE_HASH hint makes Spark build an in-memory hash table per
    partition of the smaller (filtered orders) side instead of
    sort-merging — skipping BOTH sort passes. Same logical semantics as
    ``join_inner``/``join_broadcast``; this trio documents the physical
    ladder (broadcast ≪ shuffle-hash ≪ sort-merge) and when each wins:
    shuffle-hash beats sort-merge when one side is much smaller than
    the other but too big to broadcast — the mid-size-dimension case —
    at the cost of build-side OOM risk under skew (no spill-to-sort
    fallback pre-AQE). The hint is advisory: under AQE the tiny fixture
    side may still upgrade to broadcast at runtime, which is exactly
    the adaptivity you want at 100 TB.

    Revenue stays exact through the DECIMAL(18,2) sum; the status
    filter pushes to the orders scan (PushedFilters)."""
    t = Tables(spark, sf_dir)
    o = t.orders.where(F.col("o_orderstatus") == "O").hint("shuffle_hash")
    return (
        t.lineitem.join(o, t.lineitem.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )


@query(
    "join_null_safe",
    category="C.join",
    oracle="""
WITH l AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE o_custkey % 100 END AS k
  FROM orders
),
r AS (
  SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL
              ELSE c_custkey % 100 END AS k,
         count(*) AS n_cust
  FROM customer GROUP BY 1
)
SELECT l.k AS bucket, count(*) AS n_orders, min(r.n_cust) AS n_cust
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
GROUP BY 1
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi-join (``<=>`` ≡ ANSI IS NOT DISTINCT FROM): the
    join where NULL keys MATCH each other instead of silently dropping
    — the semantics you want when joining on optional attributes
    (campaign ids, parsed fields) and dropping the null bucket would
    lose rows. Derived nullable buckets on both sides exercise the
    null↔null match. Crucially still a HASH join in Spark
    (EqualNullSafe is a sargable join key, unlike general theta
    conditions) — the plan shape survives scale; only the null bucket
    can skew, which is the same salting story as any hot key."""
    t = Tables(spark, sf_dir)
    l = t.orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_custkey") % 100)
        .alias("k"),
    )
    r = (
        t.customer.select(
            F.when(F.col("c_custkey") % 11 == 0, None)
            .otherwise(F.col("c_custkey") % 100)
            .alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    return (
        l.join(F.broadcast(r), l.k.eqNullSafe(r.k))
        .groupBy(l.k.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("n_cust").alias("n_cust"),
        )
    )
