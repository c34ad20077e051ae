"""Sorts / limits / top-k (SURVEY.md §2 cat. F) and set operations (cat. G).

MR expressions being replaced: total-order sort = sampled range partitioner
+ sorted reduces (TeraSort [MR04 §5.3]) ≙ Spark's range-partitioned
``orderBy``; global top-k = per-mapper heap + single reduce [HADOOP] ≙
``TakeOrderedAndProject`` (no full sort materialized); set ops = co-group +
emit rules [HADOOP pattern].

Determinism: the driver's value-hash is order-insensitive, so sortedness
itself is invisible — sorts therefore emit a ``pos`` column
(``row_number`` over the same total order) that makes the ordering
observable in the value set. Every ORDER BY carries a unique tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import jobs
from ..registry import query
from ..sources.loader import Tables

# --------------------------------------------------------------------------
# F. sorts / limits / top-k
# --------------------------------------------------------------------------


@query(
    "sort_global",
    category="F.sort",
    oracle="""
SELECT o_orderkey, o_totalprice,
       row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS pos
FROM orders
QUALIFY pos <= 1000
""",
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order sort (TeraSort shape [MR04 §5.3]): Spark samples key
    ranges and range-partitions, so each output partition is globally
    ordered — the sampled-range-partitioner MR pattern, built in. The
    ``pos`` column freezes the order into the value set; the
    total-ordered head (pos ≤ 1000) caps driver transfer (VERDICT r6
    §next #2) — both engines pick the identical rows."""
    o = Tables(spark, sf_dir).orders
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select("o_orderkey", "o_totalprice")
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 1000)
    )


@query(
    "topk_global",
    category="F.topk",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
""",
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: per-mapper heap + single merge [HADOOP] ≙ Spark's
    TakeOrderedAndProject (``jobs.top_k``) — each partition keeps k rows,
    driver merges; no shuffle of the full table at any scale."""
    li = Tables(spark, sf_dir).lineitem
    return jobs.top_k(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        20,
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"),
    )


@query("limit_n", category="F.limit")
def limit_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT without ORDER BY — rows are engine-chosen (first partitions),
    so only the row count is checkable (no oracle → rows-only)."""
    return Tables(spark, sf_dir).orders.limit(100)


@query(
    "sort_multi",
    category="F.sort",
    oracle="""
SELECT o_orderkey, k_status, o_totalprice,
       row_number() OVER (ORDER BY k_status ASC NULLS FIRST,
                          o_totalprice DESC, o_orderkey) AS pos
FROM (SELECT o_orderkey, nullif(o_orderstatus, 'F') AS k_status, o_totalprice
      FROM orders)
QUALIFY pos <= 1000
""",
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key mixed asc/desc sort with explicit NULLS FIRST placement
    (engines disagree on default NULL order, so it is always spelled
    out; NULLs synthesized via nullif — fixtures have none). The global
    sort IS the thing demonstrated; the total-ordered head (pos ≤ 1000,
    tiebroken to a full total order) caps driver transfer (VERDICT r6
    §next #2) — both engines pick the identical 1000 rows."""
    o = Tables(spark, sf_dir).orders
    base = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("k_status"),
        "o_totalprice",
    )
    w = Window.orderBy(
        F.asc_nulls_first("k_status"), F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return base.withColumn("pos", F.row_number().over(w)).where(
        F.col("pos") <= 1000
    )


# --------------------------------------------------------------------------
# G. set operations
# --------------------------------------------------------------------------


@query(
    "set_union_all",
    category="G.set",
    oracle="""
SELECT user_id, event_type, value FROM events WHERE event_type = 'click'
UNION ALL
SELECT user_id, event_type, value FROM events WHERE event_type = 'purchase'
""",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (concat inputs into one job [HADOOP]); unionByName keeps
    the operation schema-safe under column reordering."""
    ev = Tables(spark, sf_dir).events
    a = ev.filter(F.col("event_type") == "click").select("user_id", "event_type", "value")
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_type", "value"
    )
    return a.unionByName(b)


@query(
    "set_union_distinct",
    category="G.set",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
""",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union (concat + dedup reduce [HADOOP])."""
    t = Tables(spark, sf_dir)
    a = t.customer.select(F.col("c_nationkey").alias("nationkey"))
    b = t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    return a.union(b).distinct()


@query(
    "set_intersect",
    category="G.set",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (co-group, emit-if-both [HADOOP pattern])."""
    t = Tables(spark, sf_dir)
    a = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    b = t.orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.intersect(b)


@query(
    "set_except",
    category="G.set",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (co-group, emit-if-left-only [HADOOP pattern])."""
    t = Tables(spark, sf_dir)
    a = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    b = t.orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.subtract(b)


@query(
    "set_except_all",
    category="G.set",
    oracle="""
SELECT l_suppkey FROM lineitem WHERE l_quantity >= 48
EXCEPT ALL
SELECT l_suppkey FROM lineitem WHERE l_quantity >= 49
""",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) difference — per-key multiplicities subtract."""
    li = Tables(spark, sf_dir).lineitem
    a = li.filter(F.col("l_quantity") >= 48).select("l_suppkey")
    b = li.filter(F.col("l_quantity") >= 49).select("l_suppkey")
    return a.exceptAll(b)


@query(
    "distinct_rows",
    category="G.distinct",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (identity map + dedup reduce [MR04 §2])."""
    return Tables(spark, sf_dir).events.select("user_id", "event_type").distinct()
