"""The rest of the TPC-H-shaped suite (q2..q22, fixture-adapted) — the
subquery / semi-anti-join / scalar-subquery capability evidence that the
four shapes in tpch_shapes.py don't exercise.

The fixture star schema has no ``partsupp`` and fewer columns than real
TPC-H (FIXTURES.md), so each query keeps the *shape* of its namesake —
which operator composition it stresses — with predicates re-aimed at the
columns that exist:

- q2  : correlated min-per-group subquery  → window row_number
- q4  : EXISTS                             → left-semi join
- q6  : single-table predicate + agg       → pushed-down scan
- q7  : nation-pair volume                 → multi-join + conditional pair filter
- q8  : market share                       → ratio of two conditional sums
- q9  : product profit                     → mixed-decimal arithmetic, 2 facts
- q11 : scalar subquery threshold          → broadcast cross-join of a 1-row agg
- q13 : distribution of counts             → left join + two-level aggregation
- q15 : view + max() scalar subquery       → self-referencing agg
- q16 : NOT IN exclusion                   → left-anti join + count distinct
- q17 : correlated avg subquery            → group-agg + re-join
- q18 : HAVING subquery                    → semi-join on an aggregated set
- q19 : OR-of-ANDs disjunctive predicate   → single joined scan
- q20 : nested agg semi-join               → top-k suppliers by promo volume
- q21 : EXISTS + NOT EXISTS                → per-key flags folded into one agg
- q22 : NOT EXISTS + scalar avg            → anti join + broadcast scalar

Scale notes (100 TB framing): every dimension side (part, supplier,
customer at TPC-H ratios) broadcasts; lineitem/orders shuffle at most once
on their join key, and every aggregation partial-aggregates map-side.
Scalar subqueries (q11/q15/q22) are 1-row aggregates crossJoin-broadcast
to the fact scan — never a driver collect. Where classic TPC-H uses an
absolute threshold over a per-entity aggregate that grows with the data
(q20's "excess stock"), the adaptation ranks instead (top-k by volume) so
the query stays meaningful at any scale factor.

Float discipline (ARCHITECTURE.md §4): money sums go through
DECIMAL(18,2) exactly (functions/numeric.py); quantity is integer-valued
double (exact in any summation order, FIXTURES.md); every ratio is one
double division of two exact operands, identically ordered on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import davg, dsum
from ..registry import query
from ..sources.loader import Tables
from .tpch_shapes import _REV, _rev


@query(
    "q2_min_supplier",
    category="C.join",
    oracle="""
WITH bs AS (
  SELECT DISTINCT p_brand, s_suppkey, s_name, s_acctbal
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
)
SELECT p_brand, s_suppkey, s_name, s_acctbal
FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
                                   ORDER BY s_acctbal, s_suppkey) AS rn
      FROM bs)
WHERE rn = 1
""",
)
def q2_min_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per brand, the cheapest supplier that has actually
    shipped it (min-per-group correlated subquery → dedup + window top-1;
    acctbal stands in for ps_supplycost since the fixture has no
    partsupp). Both dimensions broadcast; the distinct collapses the fact
    scan to |brand × supplier| before the window."""
    t = Tables(spark, sf_dir)
    bs = (
        t.lineitem.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(t.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_brand", "s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )
    w = Window.partitionBy("p_brand").orderBy(F.asc("s_acctbal"), F.asc("s_suppkey"))
    return (
        bs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_brand", "s_suppkey", "s_name", "s_acctbal")
    )


@query(
    "q4_priority_exists",
    category="C.join",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one line shipped >60 days
    after ordering (EXISTS → left-semi join; l_shipdate stands in for the
    commit/receipt pair the fixture lacks). The semi join deduplicates on
    the build side — no fan-out, one shuffle on orderkey."""
    t = Tables(spark, sf_dir)
    ords = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        ords.join(t.lineitem.select("l_orderkey", "l_shipdate"), late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    category="D.agg",
    oracle="""
SELECT sum(l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(8,2))::DOUBLE
       AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure scan-predicate-aggregate query — every filter
    pushes into the parquet scan and the single global sum partial-
    aggregates to one row per partition before the 1-row exchange."""
    li = Tables(spark, sf_dir).lineitem
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast(
        "decimal(8,2)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "q7_volume_shipping",
    category="C.join",
    oracle=f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year, sum({_REV})::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. The nation pair predicate lands on two broadcast dims; lineitem
    shuffles once on orderkey for the orders join, supplier/customer
    chains broadcast."""
    t = Tables(spark, sf_dir)
    sn = t.nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = t.nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t.lineitem.join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "q8_market_share",
    category="D.agg",
    oracle=f"""
SELECT year(o_orderdate) AS o_year,
       sum(CASE WHEN sn.n_name = 'NATION_5' THEN {_REV}
                ELSE 0::DECIMAL(18,2) END)::DOUBLE
       / sum({_REV})::DOUBLE AS mkt_share
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = cn.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
WHERE r_name = 'ASIA'
GROUP BY year(o_orderdate)
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of ASIA-customer
    revenue per order year — the ratio of a conditional exact-decimal sum
    to the total, divided once in double (engine-identical). Same join
    graph as q7 plus the region chain."""
    t = Tables(spark, sf_dir)
    sn = t.nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = t.nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    nation5_rev = F.when(F.col("supp_nation") == "NATION_5", _rev()).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        t.lineitem.join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("cn_rkey"),
        )
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(nation5_rev).cast("double") / F.sum(_rev()).cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    category="D.agg",
    oracle=f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       sum(l_extendedprice::DECIMAL(19,2) * (1 - l_discount)::DECIMAL(8,2)
           - p_retailprice::DECIMAL(19,2) * l_quantity::DECIMAL(12,0)
           )::VARCHAR::DOUBLE AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_type <> 'PROMO'
GROUP BY n_name, year(o_orderdate)
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue − retail cost of goods) per
    supplier nation and order year; p_retailprice × quantity stands in
    for ps_supplycost. All arithmetic stays on the exact decimal grid
    until the final cast; part/supplier broadcast, lineitem↔orders is the
    one big shuffle. The 19,2/12,0 casts (vs the shared _rev's 18,2):
    Q9's revenue-minus-cost SUBTRACTION promotes DuckDB's width-18
    products to a common DECIMAL(18,4), which saturates at ~1e14 actual
    — inside the ×1e5 magnitude envelope; width 19 forces the int128
    path on both terms (the agg_corr cast note). The oracle's final
    cast goes ::VARCHAR::DOUBLE: DuckDB's direct decimal→double divides
    the unscaled int128 by 10^scale in doubles (two roundings — 1 ulp
    off once the unscaled sum passes 2^53) while Spark's BigDecimal
    cast and DuckDB's string→double are correctly rounded; measured at
    ×1e5 (12 of 175 groups 1 ulp apart, 0 via the VARCHAR route)."""
    t = Tables(spark, sf_dir)
    ep = F.col("l_extendedprice").cast("decimal(19,2)")
    disc = (1 - F.col("l_discount")).cast("decimal(8,2)")
    amount = ep * disc - F.col("p_retailprice").cast("decimal(19,2)") * F.col(
        "l_quantity"
    ).cast("decimal(12,0)")
    return (
        t.lineitem.join(
            F.broadcast(t.part.filter(F.col("p_type") != "PROMO")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t.nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


@query(
    "q11_important_parts",
    category="D.agg",
    oracle="""
WITH pv AS (
  SELECT l_partkey, sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, value
FROM pv
WHERE value > (SELECT sum(l_extendedprice::DECIMAL(18,2))::DOUBLE * 1.2
                      / count(DISTINCT l_partkey)
               FROM lineitem)
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value exceeds 1.2× the mean
    per-part value (scalar subquery; relative-to-mean instead of the
    classic fixed fraction so the cut selects a stable tail at every
    scale factor). The 1-row global aggregate is crossJoin-broadcast to
    the per-part aggregate — the threshold is exact-decimal-derived
    doubles combined with the identical op sequence (tot × 1.2 ÷ n) on
    both engines, so the cut is engine-identical."""
    li = Tables(spark, sf_dir).lineitem
    pv = li.groupBy("l_partkey").agg(dsum("l_extendedprice").alias("value"))
    tot = li.agg(
        (dsum("l_extendedprice") * 1.2 / F.count_distinct("l_partkey")).alias("thr")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(F.col("value") > F.col("thr"))
        .select("l_partkey", "value")
    )


@query(
    "q13_order_distribution",
    category="C.join",
    oracle="""
WITH co AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM co GROUP BY c_count
""",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, including
    zero-order customers (left join + non-null count, then a second
    aggregation over the counts — the histogram-of-histogram shape)."""
    t = Tables(spark, sf_dir)
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    co = (
        t.customer.join(t.orders, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    category="D.agg",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey, sum({_REV})::DOUBLE AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the quarter's top supplier by revenue — a derived view
    referenced twice (per-supplier agg + its own max as the scalar
    filter). The doubles compared for equality come from the same exact
    decimal sums on both engines, so `=` is safe here."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev()).cast("double").alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_counts",
    category="D.agg",
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size IN (1, 14, 23, 45) AND p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, type, size)
    with a NOT IN exclusion list (negative-balance suppliers stand in for
    the complaint filter) — the left-anti-join form of NOT IN (safe here:
    fixture keys are never NULL, so the three-valued-logic trap doesn't
    bite; a nullable column would need the null-aware variant)."""
    t = Tables(spark, sf_dir)
    bad = t.supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t.lineitem.join(
            F.broadcast(
                t.part.filter(
                    F.col("p_size").isin(1, 14, 23, 45) & (F.col("p_type") != "PROMO")
                )
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_qty_revenue",
    category="D.agg",
    oracle="""
WITH pa AS (
  SELECT l_partkey AS pk, sum(l_quantity) / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa   ON pk = l_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from unusually-small-quantity lines of one
    brand (correlated per-part average → group-agg then re-join).
    Quantity is integer-valued double so sum(qty)/count is exact-operand
    double division — identical on both engines; 0.2×avg is one more
    identical double op."""
    t = Tables(spark, sf_dir)
    pa = (
        t.lineitem.groupBy(F.col("l_partkey").alias("pk"))
        .agg((F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"))
    )
    return (
        t.lineitem.join(
            F.broadcast(t.part.filter(F.col("p_brand") == "Brand#1")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(pa, F.col("pk") == F.col("l_partkey"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dsum("l_extendedprice") / 7.0).alias("avg_yearly")
        )
    )


@query(
    "q18_large_orders",
    category="C.join",
    oracle="""
WITH big AS (
  SELECT l_orderkey AS bok, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 150
)
SELECT c_name, c_custkey, o_orderkey,
       epoch_us(o_orderdate::TIMESTAMP) // 1000000 AS odate_s,
       o_totalprice, sum_qty
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN big      ON bok = o_orderkey
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers behind very large orders (aggregate-HAVING
    subquery used as a semi-join set, then enriched). The big-order set
    is tiny relative to orders, so AQE flips the orders join to broadcast
    at runtime; quantity sums are exact in any order."""
    t = Tables(spark, sf_dir)
    big = (
        t.lineitem.groupBy(F.col("l_orderkey").alias("bok"))
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        t.orders.join(big, F.col("bok") == F.col("o_orderkey"))
        .join(F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_seconds(F.col("o_orderdate").cast("timestamp")).alias("odate_s"),
            "o_totalprice",
            "sum_qty",
        )
    )


@query(
    "q19_disjunctive_revenue",
    category="B.filter",
    oracle=f"""
SELECT sum({_REV})::DOUBLE AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: the OR-of-ANDs predicate spanning both join sides — the
    planner keeps the equi-join key and evaluates the disjunction as a
    post-join filter; part broadcasts so no shuffle at all."""
    t = Tables(spark, sf_dir)
    pred = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        t.lineitem.join(F.broadcast(t.part), F.col("p_partkey") == F.col("l_partkey"))
        .where(pred)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "q20_promo_suppliers",
    category="C.join",
    oracle="""
WITH promo AS (
  SELECT l_suppkey AS sk, sum(l_quantity) AS promo_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'PROMO'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, promo_qty
FROM supplier
JOIN (SELECT *, row_number() OVER (ORDER BY promo_qty DESC, sk) AS rn
      FROM promo) ON sk = s_suppkey
WHERE rn <= 10
""",
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers moving the most promo-part volume
    (nested aggregate feeding a semi-join). Ranked top-10 instead of the
    classic absolute "half of shipped stock" threshold so the query keeps
    selecting a stable slice at every scale factor; ties broken by
    suppkey for determinism."""
    t = Tables(spark, sf_dir)
    promo = (
        t.lineitem.join(
            F.broadcast(t.part.filter(F.col("p_type") == "PROMO")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(F.col("l_suppkey").alias("sk"))
        .agg(F.sum("l_quantity").alias("promo_qty"))
    )
    w = Window.orderBy(F.desc("promo_qty"), F.asc("sk"))
    top = promo.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 10)
    return (
        t.supplier.join(F.broadcast(top), F.col("sk") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "promo_qty")
    )


@query(
    "q21_waiting_suppliers",
    category="C.join",
    oracle="""
WITH ol AS (
  SELECT l_orderkey AS ok, l_suppkey AS sk,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY l_orderkey, l_suppkey
),
stats AS (
  SELECT ok, count(*) AS n_supp, sum(late) AS n_late FROM ol GROUP BY ok
)
SELECT s_name, count(*) AS numwait
FROM ol
JOIN stats    USING (ok)
JOIN supplier ON s_suppkey = sk
WHERE late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_name
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone delayed a multi-supplier
    order. The classic EXISTS / NOT EXISTS pair collapses into per-order
    flags (n_supp > 1 ≙ EXISTS other supplier; n_late = 1 ≙ NOT EXISTS
    other late supplier), computed as WINDOW aggregates over the same
    orderkey partitioning the (ok, sk) groupBy just produced — one
    Exchange serves both, where the naive ol⋈stats self-join would scan
    and shuffle the lineitem⋈orders subtree twice (the plan test pins
    the exchange count)."""
    t = Tables(spark, sf_dir)
    late_flag = F.max(
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), 1
        ).otherwise(0)
    )
    ol = (
        t.lineitem.join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .agg(late_flag.alias("late"))
    )
    wok = Window.partitionBy("ok")
    return (
        ol.withColumn("n_supp", F.count(F.lit(1)).over(wok))
        .withColumn("n_late", F.sum("late").over(wok))
        .where((F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("sk"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q22_dormant_customers",
    category="C.join",
    oracle="""
SELECT c_nationkey, count(*) AS numcust,
       sum(c_acctbal::DECIMAL(18,2))::DOUBLE AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT sum(c_acctbal::DECIMAL(18,2))::DOUBLE / count(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_nationkey
""",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (scalar avg subquery + NOT EXISTS → broadcast 1-row agg +
    left-anti join; nationkey stands in for the phone country code). The
    average uses the exact-sum-over-count discipline so the cut is
    engine-identical."""
    t = Tables(spark, sf_dir)
    avg_bal = t.customer.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal").alias("ab")
    )
    recent = t.orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        t.customer.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )
