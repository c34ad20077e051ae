"""Aggregations (SURVEY.md §2 cat. D).

MR expression of every query here: shuffle by key then reduce, with the
combiner (partial aggregation) as THE defining optimization [MR04 §4.3].
Spark's HashAggregateExec does partial→Exchange→final automatically — the
plans below never hand-roll two-phase aggregation.

Scale notes: group-by keys here are low-cardinality (flags, dates, types) —
the partial aggregate collapses each map partition to ~|groups| rows before
the shuffle, so the Exchange moves O(partitions × groups) rows no matter the
input size; this shape survives 100 TB unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import jobs
from ..functions.hashing import md5_int
from ..functions.numeric import davg, dsum
from ..registry import query
from ..sources.loader import Tables, fan_out_scan

Q1_ORACLE = """
-- The two product sums go ::VARCHAR::DOUBLE: their scale-4/6 decimals
-- pass 2^53 UNSCALED at sf1 group totals (~4e10 actual), where
-- DuckDB's direct decimal->double cast double-rounds 1 ulp off while
-- Spark's BigDecimal cast is correctly rounded — the q9 adjudication
-- (ARCHITECTURE §22), which the round-13 sf1 sweep caught biting q1's
-- sum_charge. The scale-2 sums stay direct (headroom to ~9e13 actual).
SELECT
  l_returnflag,
  l_linestatus,
  sum(l_quantity)::DOUBLE                         AS sum_qty,
  sum(l_extendedprice::DECIMAL(18,2))::DOUBLE     AS sum_base_price,
  sum(l_extendedprice::DECIMAL(18,2)
      * (1 - l_discount)::DECIMAL(8,2))::VARCHAR::DOUBLE AS sum_disc_price,
  sum(l_extendedprice::DECIMAL(18,2)
      * (1 - l_discount)::DECIMAL(8,2)
      * (1 + l_tax)::DECIMAL(8,2))::VARCHAR::DOUBLE      AS sum_charge,
  sum(l_quantity)::DOUBLE / count(*)              AS avg_qty,
  sum(l_extendedprice::DECIMAL(18,2))::DOUBLE
      / count(*)                                  AS avg_price,
  sum(l_discount::DECIMAL(8,2))::DOUBLE
      / count(*)                                  AS avg_disc,
  count(*)                                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", oracle=Q1_ORACLE, category="D.agg", tags=("flagship",))
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary over lineitem.

    filter → groupBy(flag,status) → multi-measure agg. The canonical
    MapReduce "aggregate per key with combiner" job [MR04 §2.3, §4.3]
    as one declarative plan: Catalyst pushes the shipdate predicate into
    the parquet scan, prunes to the 7 needed columns, and plans
    partial+final hash aggregation around a single Exchange.

    Float discipline: money sums via exact DECIMAL casts (see
    functions/numeric.py); l_quantity is integer-valued so its double sum
    is already exact.
    """
    # round-13: fan_out_scan A/B'd and REJECTED here — the repartition's
    # pre-shuffle sort + moving 7 columns of every row cost more than
    # the single-task partial aggregate it parallelized (noop median
    # 1.13 s with vs 0.87 s without at sf0.1); q1's map work is one
    # cheap filter+project+decimal-agg pass, unlike the ×32
    # hash-expansion operators where the fan-out pays 6-9×.
    li = Tables(spark, sf_dir).lineitem
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (1 - F.col("l_discount")).cast("decimal(8,2)")
    tax = (1 + F.col("l_tax")).cast("decimal(8,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(ep * disc).cast("double").alias("sum_disc_price"),
            F.sum(ep * disc * tax).cast("double").alias("sum_charge"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", scale=2, precision=8).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_global",
    category="D.agg",
    oracle="""
SELECT
  count(*) AS n_rows,
  sum(l_quantity)::DOUBLE AS total_qty,
  min(l_extendedprice) AS min_price,
  max(l_extendedprice) AS max_price,
  sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS total_price,
  sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / count(*) AS avg_price
FROM lineitem
""",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate — the single-reduce-key MR job [MR04 §2].
    Partial aggregation collapses every partition to one row before the
    single-row final reduce; no shuffle of data rows at any scale."""
    li = Tables(spark, sf_dir).lineitem
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("total_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        dsum("l_extendedprice").alias("total_price"),
        davg("l_extendedprice").alias("avg_price"),
    )


@query(
    "agg_multi",
    category="D.agg",
    oracle="""
SELECT
  l_returnflag,
  count(*) AS n,
  sum(l_quantity)::DOUBLE AS sum_qty,
  min(l_quantity) AS min_qty,
  max(l_quantity) AS max_qty,
  sum(l_quantity)::DOUBLE / count(*) AS avg_qty,
  round(stddev_samp(l_quantity), 6) AS sd_qty,
  round(var_samp(l_quantity), 6) AS var_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure aggregate: one reduce, many accumulators [HADOOP].
    stddev/variance are algorithmically engine-specific (streaming M2
    merge) — rounded to 6 dp on both sides (SURVEY §5.2 float discipline)."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
    )


@query(
    "agg_distinct",
    category="D.agg",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — the classic two-round MR job [HADOOP pattern];
    Spark plans it as expand + two-phase aggregation automatically."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n"),
    )


@query("agg_approx_distinct", category="D.agg")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HLL++ sketch ≙ HLL-in-combiner MR
    pattern). Sketch internals are engine-specific → rows-only check
    (no oracle); tests assert rsd-bounded error vs the exact count.
    At 100 TB this is the only sane distinct-count: fixed-size sketch,
    map-side mergeable, no expand shuffle."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_collect",
    category="D.agg",
    oracle="""
SELECT n_nationkey,
       array_to_string(list_sort(list(s_name)), ',') AS supplier_names,
       array_to_string(list_sort(list(DISTINCT s_nationkey)), ',') AS nation_keys
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_nationkey
""",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group → collection (inverted-index shape [MR04 §2.3]); sort_array
    makes the collected order deterministic on both engines."""
    t = Tables(spark, sf_dir)
    return (
        t.supplier.join(t.nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias("supplier_names"),
            F.array_join(F.transform(F.sort_array(F.collect_set("s_nationkey")), lambda x: x.cast("string")), ",").alias("nation_keys"),
        )
    )


@query(
    "agg_rollup",
    category="D.agg",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n, sum(l_quantity)::DOUBLE AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
HAVING count(*) > 0
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (MR re-runs one job per level; Spark's
    Expand operator computes all levels in one pass).

    Empty-input semantics (round-10 sweep): Spark's Expand-based
    grouping-set execution emits ZERO rows over an empty relation,
    while standard SQL (DuckDB/Postgres) emits the grand-total ()
    grouping set as one all-NULL/0 row. The engine's semantics are
    Spark's; the oracle mirrors them with HAVING count(*) > 0, which
    removes EXACTLY the empty-input grand-total row (every group over
    non-empty input has count ≥ 1, so it is a no-op otherwise)."""
    li = Tables(spark, sf_dir).lineitem
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


@query(
    "agg_cube",
    category="D.agg",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n, sum(l_quantity)::DOUBLE AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING count(*) > 0
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over both dimensions. Oracle carries HAVING count(*) > 0 to
    mirror Spark's empty-input grouping-set semantics (see agg_rollup)."""
    li = Tables(spark, sf_dir).lineitem
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


@query(
    "agg_grouping_sets",
    category="D.agg",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
HAVING count(*) > 0
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL front end (demonstrates the
    spark.sql path over the same loaded tables). Oracle carries
    HAVING count(*) > 0 to mirror Spark's empty-input grouping-set
    semantics (see agg_rollup)."""
    li = Tables(spark, sf_dir).lineitem
    li.createOrReplaceTempView("mrss_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM mrss_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "agg_having",
    category="D.agg",
    oracle="""
SELECT p_brand, count(*) AS n_parts,
       sum(p_retailprice::DECIMAL(18,2))::DOUBLE AS brand_value
FROM part
GROUP BY p_brand
HAVING count(*) > 70 AND sum(p_retailprice::DECIMAL(18,2))::DOUBLE > 70000
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (reduce-side emit-if [HADOOP])."""
    p = Tables(spark, sf_dir).part
    return (
        p.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("p_retailprice").alias("brand_value"),
        )
        .filter((F.col("n_parts") > 70) & (F.col("brand_value") > 70000))
    )


@query(
    "agg_group",
    category="D.agg",
    oracle="""
SELECT o_orderpriority, count(*) AS n_orders,
       sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS total
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare hash group-by (URL-access-count shape [MR04 §2.3]) under its
    SURVEY §2 key; q1_pricing_summary is the flagship composition."""
    o = Tables(spark, sf_dir).orders
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total")
    )


@query(
    "agg_pivot",
    category="D.agg",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'O') AS n_open,
       count(*) FILTER (o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (o_orderstatus = 'P') AS n_pending,
       coalesce(sum(o_totalprice::DECIMAL(18,2)) FILTER (o_orderstatus = 'O'),
                0)::DOUBLE AS open_total
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): status values become columns. The value
    list is pinned explicitly — at scale an unpinned pivot needs a
    distinct-scan planning pass over the pivot column first."""
    o = Tables(spark, sf_dir).orders
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("t"),
        )
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O_n"), F.lit(0).cast("long")).alias("n_open"),
        F.coalesce(F.col("F_n"), F.lit(0).cast("long")).alias("n_filled"),
        F.coalesce(F.col("P_n"), F.lit(0).cast("long")).alias("n_pending"),
        F.coalesce(F.col("O_t").cast("double"), F.lit(0.0)).alias("open_total"),
    )


@query(
    "agg_unpivot",
    category="D.agg",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
FROM lineitem WHERE l_orderkey % 50 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_orderkey % 50 = 0
""",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: measures to rows (the inverse reshape; values pass
    through untouched so no float discipline needed). Demo rows capped
    by a deterministic modulo filter pushed to the scan (VERDICT r6
    §next #2)."""
    li = Tables(spark, sf_dir).lineitem.filter(F.col("l_orderkey") % 50 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice"],
        "measure",
        "val",
    )


@query(
    "agg_stats",
    category="D.agg",
    oracle="""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
       round(covar_pop(l_quantity, l_discount), 6) AS qty_disc_covar_pop
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (corr / covariance): streaming-merge
    algorithms differ per engine → rounded like stddev (SURVEY §5.2)."""
    li = Tables(spark, sf_dir).lineitem
    # corr spelled as covar_pop/(stddev_pop*stddev_pop) — same streaming
    # built-ins, but try_divide returns NULL on a zero-variance group
    # where ANSI F.corr THROWS and DuckDB's corr yields NULL
    # (constant-fixture audit); equal to F.corr wherever it is defined.
    # The stddev operands are PAIRWISE-COMPLETE (null the price where
    # the quantity is null): corr/covar built-ins use pairwise deletion
    # on both engines, so a plain stddev_pop over a different row set
    # breaks the decomposition the moment either input has NULLs
    # (round-11 NULL axis).
    qty_if_pair = F.when(
        F.col("l_extendedprice").isNotNull(), F.col("l_quantity")
    )
    price_if_pair = F.when(
        F.col("l_quantity").isNotNull(), F.col("l_extendedprice")
    )
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.try_divide(
                F.covar_pop("l_quantity", "l_extendedprice"),
                F.stddev_pop(qty_if_pair) * F.stddev_pop(price_if_pair),
            ),
            6,
        ).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias(
            "qty_disc_covar_pop"
        ),
    )


@query(
    "agg_percentile",
    category="D.agg",
    oracle="""
SELECT event_type,
       median(value) AS med,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.75) AS p75
FROM events
GROUP BY event_type
""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use linear
    interpolation on the sorted group — identical arithmetic on identical
    operands). The 100 TB form is approx_percentile (sketch-mergeable);
    this is the exact-semantics operator."""
    ev = Tables(spark, sf_dir).events
    return ev.groupBy("event_type").agg(
        F.median("value").alias("med"),
        F.percentile("value", F.lit(0.25)).alias("p25"),
        F.percentile("value", F.lit(0.75)).alias("p75"),
    )


@query(
    "agg_sample",
    category="D.agg",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE substring(md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR), 1, 2)
      < '1a'
""",
)
def agg_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample (the 100 TB debugging
    workhorse) via the repo's hash-sampling discipline ('1a' = 26/256 ≈
    10.2% of the key space): the kept set is a pure function of the
    row's unique key (l_orderkey, l_linenumber), so it is identical
    across runs, engines, partitionings and cluster sizes — the
    reproducibility property RNG-based ``df.sample`` cannot give (its
    output depends on the input split layout). The filter is a narrow
    per-row predicate: no shuffle, embarrassingly parallel at any
    scale. Exact-oracle-checkable for the same reason (was rows-only
    when it used seeded sample())."""
    li = Tables(spark, sf_dir).lineitem
    hx = F.substring(
        F.md5(
            F.concat_ws(
                "|",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ).cast("binary")
        ),
        1,
        2,
    )
    return li.filter(hx < "1a").select("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "agg_salted",
    category="D.agg",
    oracle="""
SELECT l_suppkey, count(*) AS n,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS total
FROM lineitem
GROUP BY l_suppkey
""",
)
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — the hand-rolled skew mitigation for
    a hot grouping key: stage 1 groups on (key, salt) spreading each hot
    key over 16 reducers, stage 2 merges partials per key. Results are
    identical to a plain group-by (the oracle IS the plain group-by)
    because decimal partials merge exactly. With AQE's skew handling this
    is rarely needed for joins, but aggregation skew on a hot key still
    wants it at 100 TB; the salt is a hash of the row's unique id — no RNG
    (SURVEY §5.2 determinism)."""
    li = Tables(spark, sf_dir).lineitem
    salt = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(16)).alias("salt")
    stage1 = (
        li.select("l_suppkey", salt, "l_extendedprice")
        .groupBy("l_suppkey", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("pt"),
        )
    )
    return stage1.groupBy("l_suppkey").agg(
        F.sum("pn").alias("n"), F.sum("pt").cast("double").alias("total")
    )


@query("agg_approx_percentile", category="D.agg")
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via the KLL-style sketch behind
    approx_percentile — the 100 TB quantile path (fixed-size mergeable
    sketch, map-side combined) next to agg_percentile's exact form.
    Sketch internals are engine-specific → rows-only check; the pytest
    bounds the error against the exact interpolated percentiles."""
    ev = Tables(spark, sf_dir).events
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 1000).alias("approx_med"),
        F.percentile_approx("value", 0.99, 1000).alias("approx_p99"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_bool",
    category="D.agg",
    oracle="""
SELECT user_id,
       bool_and(value > 1)    AS all_nontrivial,
       bool_or(event_type = 'purchase') AS ever_bought,
       count(*) FILTER (event_type = 'error') AS n_errors
FROM events
GROUP BY user_id
""",
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates: every/any/count_if per user."""
    ev = Tables(spark, sf_dir).events
    return ev.groupBy("user_id").agg(
        F.bool_and(F.col("value") > 1).alias("all_nontrivial"),
        F.bool_or(F.col("event_type") == "purchase").alias("ever_bought"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
    )


@query(
    "agg_argmax",
    category="D.agg",
    oracle="""
SELECT user_id, event_id AS top_event, value AS top_value
FROM (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic arg-max per group via struct-max: ``max(struct(value,
    event_id))`` orders lexicographically, so value ties break on the
    highest event_id — unlike ``max_by``, whose tie winner is
    engine/partitioning-dependent and would flake the hash gate."""
    ev = Tables(spark, sf_dir).events
    s = F.max(F.struct(F.col("value"), F.col("event_id"))).alias("s")
    return (
        ev.groupBy("user_id")
        .agg(s)
        .select(
            "user_id",
            F.col("s.event_id").alias("top_event"),
            F.col("s.value").alias("top_value"),
        )
    )


@query(
    "agg_histogram",
    category="D.agg",
    oracle="""
SELECT floor(o_totalprice / 50000)::BIGINT AS bucket, count(*) AS n
FROM orders
GROUP BY 1
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value histogram by floor-bucketing: ``jobs.histogram`` over
    orders' o_totalprice in 50000-wide buckets — the bucket key is the
    group key, so the shuffle carries |buckets| rows per partition."""
    return jobs.histogram(Tables(spark, sf_dir).orders, "o_totalprice", 50000.0)


@query(
    "agg_mode",
    category="D.agg",
    oracle="""
SELECT o_orderstatus, mode_priority, n
FROM (
  SELECT o_orderstatus, o_orderpriority AS mode_priority, count(*) AS n,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY count(*) DESC, o_orderpriority) AS rn
  FROM orders
  GROUP BY o_orderstatus, o_orderpriority
)
WHERE rn = 1
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a DETERMINISTIC tie rule (highest
    count, then lexicographically smallest value) — Spark's builtin
    ``mode()`` is explicitly non-deterministic on ties, which an exact
    value-hash gate cannot tolerate, so the operator is the count →
    window-top-1 form. Two aggregations but one data-sized shuffle: the
    window runs over the already-reduced (status, priority) table."""
    o = Tables(spark, sf_dir).orders
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), "o_orderpriority"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@query(
    "agg_corr",
    category="D.agg",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         count(*)::DOUBLE AS n,
         sum(l_quantity::DECIMAL(19,2))::DOUBLE AS sx,
         sum(l_extendedprice::DECIMAL(19,2))::DOUBLE AS sy,
         sum((l_quantity::DECIMAL(19,2) * l_quantity::DECIMAL(19,2)))::DOUBLE
           AS sxx,
         sum((l_extendedprice::DECIMAL(19,2)
              * l_extendedprice::DECIMAL(19,2)))::DOUBLE AS syy,
         sum((l_quantity::DECIMAL(19,2)
              * l_extendedprice::DECIMAL(19,2)))::DOUBLE AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       n::BIGINT AS n_rows,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
         AS corr_qty_price
FROM m
""",
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from EXACT decimal moments — the
    engine's answer to order-dependent statistical aggregates. Spark's
    builtin ``corr`` (and DuckDB's) accumulate doubles in partition
    order, so their last ulps differ run to run and engine to engine;
    instead the five moments (Σx, Σy, Σx², Σy², Σxy) are summed as
    exact decimals (2-dp inputs ⇒ 4-dp products, exact), and the final
    correlation is ONE identical scalar expression over identical exact
    operands on both engines — the anomaly_zscore moments pattern
    (ARCHITECTURE.md §4) extended to a two-variable statistic. The
    result rounds to 9 dp only to absorb the final expression's
    engine-shared rounding, not cross-engine drift: same ops, same
    order, same doubles. One map-side-combined aggregation — moments
    are the textbook distributive aggregate, O(groups) shuffle."""
    li = Tables(spark, sf_dir).lineitem
    # 19,2 (not 18,2): DuckDB multiplies width-18 decimals in their
    # int64 storage type and overflows at products ≥ 1e14 actual, while
    # width 19 forces the int128 path → DECIMAL(38,4), mirroring
    # Spark's capped DECIMAL(38,4) product — measured at the ×1e5
    # magnitude envelope (tests/test_empty_fixture.py x1e5 axis).
    qx = F.col("l_quantity").cast("decimal(19,2)")
    py = F.col("l_extendedprice").cast("decimal(19,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(qx).cast("double").alias("sx"),
        F.sum(py).cast("double").alias("sy"),
        F.sum(qx * qx).cast("double").alias("sxx"),
        F.sum(py * py).cast("double").alias("syy"),
        F.sum(qx * py).cast("double").alias("sxy"),
    )
    # try_divide: a zero-variance group (constant column) zeroes the
    # denominator — ANSI `/` throws where the oracle's `/` yields NULL
    # (constant-fixture audit, tests/test_flat_fixture.py); identical
    # on every nonzero path.
    corr = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(corr, 9).alias("corr_qty_price"),
    )


@query(
    "sketch_countmin",
    category="D.agg",
    oracle="""
WITH hashes AS (
  SELECT l_partkey, i,
         ('0x' || substr(md5(i::VARCHAR || ':' || l_partkey::VARCHAR), 1, 8))::BIGINT
           % 512 AS b
  FROM lineitem, generate_series(0, 3) AS t(i)
),
sketch AS (
  SELECT i, b, count(*) AS c FROM hashes GROUP BY i, b
),
heavy AS (
  SELECT l_partkey, count(*) AS n_exact FROM lineitem GROUP BY l_partkey
  ORDER BY n_exact DESC, l_partkey LIMIT 10
),
probe AS (
  SELECT h.l_partkey, h.n_exact, t.i,
         ('0x' || substr(md5(t.i::VARCHAR || ':' || h.l_partkey::VARCHAR), 1, 8))::BIGINT
           % 512 AS b
  FROM heavy h, generate_series(0, 3) AS t(i)
)
SELECT p.l_partkey, p.n_exact, min(s.c) AS n_est
FROM probe p JOIN sketch s ON s.i = p.i AND s.b = p.b
GROUP BY p.l_partkey, p.n_exact
""",
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005): d=4 hash rows ×
    w=512 counters estimate per-key frequencies in O(d·w) space
    regardless of key cardinality — the mergeable-sketch shape for
    streaming/distributed heavy-hitter counting at 100 TB, where the
    exact groupBy's state is the full key set but the sketch's is 2 KB
    per partition, combined map-side like any partial agg.

    Hashes are md5-derived (``md5_int(i, ":", key) % W``)
    so the WHOLE sketch is a deterministic pure function of the data —
    no RNG, bit-identical across engines, which is what lets DuckDB
    replay the exact sketch and the driver hash-compare it (vs the
    rows-only approx_* family). Output: the 10 heaviest l_partkeys with
    exact and estimated counts; CM guarantees n_est >= n_exact
    (over-estimation only, collisions add), asserted in tests.

    Plan: sketch = one explode(d) + partial-agg shuffle of <= d·w rows;
    probes = broadcast join of 40 rows against the tiny sketch; exact
    top-10 = the same single-shuffle topk as topk_global. No driver-side
    loops; d and w are compile-time literals."""
    D, W = 4, 512
    # round-13: fan out the single-row-group scan before the 4-row md5
    # explode (guide §2.5; counts-only states — partitioning-invariant)
    li = fan_out_scan(
        Tables(spark, sf_dir).lineitem.select("l_partkey"), spark
    )

    rows = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (md5_int(i, ":", F.col("l_partkey")) % W).alias("b"),
                    )
                    for i in range(D)
                ]
            )
        ).alias("hb")
    )
    sketch = rows.groupBy(F.col("hb.i").alias("i"), F.col("hb.b").alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    heavy = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("l_partkey"))
        .limit(10)
    )
    probe = heavy.select(
        "l_partkey",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (md5_int(i, ":", F.col("l_partkey")) % W).alias("b"),
                    )
                    for i in range(D)
                ]
            )
        ).alias("hb"),
    ).select("l_partkey", "n_exact", F.col("hb.i").alias("i"), F.col("hb.b").alias("b"))
    return (
        F.broadcast(probe)
        .join(sketch, ["i", "b"])
        .groupBy("l_partkey", "n_exact")
        .agg(F.min("c").alias("n_est"))
    )


@query("sketch_hll_merge", category="D.agg")
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup: one Apache DataSketches HLL
    sketch per (event_type, day) slice, re-aggregated to per-type
    distinct users with ``hll_union_agg`` — the ONLY way distinct counts
    compose at 100 TB (exact distincts don't: count_distinct(week) ≠
    Σ count_distinct(day), so every regrain forces a full reshuffle of
    raw data, while sketch union is a 1.5 KB-per-slice merge that a
    matview/serving layer can keep incrementally, MR04-style combiners
    generalized to set cardinality).

    Sketch internals are engine-specific → rows-only gate (the
    agg_approx_distinct precedent); tests/test_round6_ops.py pins the
    algebraic property that matters — merged-from-slices ≡ one-shot
    sketch, exactly — and bounds the estimate against the exact count."""
    ev = Tables(spark, sf_dir).events
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("est_users"),
    )


@query(
    "sketch_bitmap_distinct",
    category="D.agg",
    oracle="""
SELECT event_type,
       count(DISTINCT ts::DATE) AS n_days,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
""",
)
def sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via roaring-style bitmaps —
    sketch_hll_merge's lossless twin. Per (event_type, day,
    32k-id-bucket) slice, user ids become set bits
    (bitmap_construct_agg(bitmap_bit_position)); slices re-aggregate
    with bitmap_or_agg and a bucket-sum — so like the HLL path it
    regrains WITHOUT reshuffling raw events, but the answer is exact
    (the oracle is the plain count(DISTINCT)). This is the id-space
    trade: bitmaps are exact and ~|id-range|/8 bytes per slice
    (perfect for dense surrogate keys); HLL is approximate and O(1.5 KB)
    for arbitrary keys. The bucket dimension keeps every bitmap ≤ 4 KB
    no matter how large the id space grows — state per slice is bounded
    by OCCUPIED buckets, the roaring idea expressed in plan form.

    n_days folds from the same slice table (distinct days ≡ distinct
    slice keys per type) — one raw-events shuffle feeds both outputs."""
    ev = Tables(spark, sf_dir).events
    slices = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )
    per_bucket = slices.groupBy("event_type", "bkt").agg(
        F.expr("bitmap_count(bitmap_or_agg(bm))").alias("n_in_bucket"),
    )
    users = per_bucket.groupBy("event_type").agg(
        F.sum("n_in_bucket").alias("n_users")
    )
    days = slices.groupBy("event_type").agg(
        F.countDistinct("d").alias("n_days")
    )
    return days.join(users, "event_type").select(
        "event_type", "n_days", "n_users"
    )


_KMV_K = 32


@query(
    "sketch_kmv",
    category="D.agg",
    oracle=f"""
WITH hashes AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashes
),
per_type AS (
  SELECT event_type AS scope,
         count(*) AS n_keys,
         max(CASE WHEN rn <= {_KMV_K} THEN h END)::BIGINT AS kth_hash
  FROM ranked GROUP BY event_type
),
merged AS (
  SELECT '__all__' AS scope, count(*) AS n_keys,
         max(CASE WHEN rn <= {_KMV_K} THEN h END)::BIGINT AS kth_hash
  FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM ranked WHERE rn <= {_KMV_K})
  )
),
u AS (
  SELECT scope, n_keys, kth_hash FROM per_type
  UNION ALL SELECT scope, n_keys, kth_hash FROM merged
)
SELECT scope, n_keys::BIGINT AS n_keys, kth_hash,
       round(CASE WHEN n_keys < {_KMV_K} THEN n_keys::DOUBLE
                  ELSE ({_KMV_K} - 1) * 4294967296.0 / kth_hash END, 4)
         AS est_distinct
FROM u
""",
)
def sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002) per
    event type, PLUS the union sketch merged from the per-type sketches
    alone — the mergeability demo that matters at 100 TB: each partition
    keeps its k smallest hashes (k·8 bytes of state), partials combine
    by re-taking the k smallest of the union, and the estimator
    (k−1)·2³²/h₍ₖ₎ reads cardinality off the kth minimum. Hashes are
    md5-derived 32-bit ints (sketch_countmin discipline) so the ENTIRE
    sketch — not just the estimate — is a deterministic pure function of
    the data, bit-replayable in the oracle; under-filled sketches
    (n < k) degrade to the exact count. The ``__all__`` row is computed
    ONLY from the per-type k-mins, never from re-scanning the raw data:
    that is the sketch-merge contract (matview/rollup-friendly).
    Note ``n_keys`` counts distinct HASHES (the sketch's own universe;
    32-bit collisions are the estimator's error term, identically on
    both engines)."""
    k = _KMV_K
    ev = Tables(spark, sf_dir).events
    hashes = ev.select(
        "event_type",
        md5_int(F.col("user_id")).alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashes.withColumn("rn", F.row_number().over(w)).cache()
    per_type = ranked.groupBy(F.col("event_type").alias("scope")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max(F.when(F.col("rn") <= k, F.col("h"))).alias("kth_hash"),
    )
    wall = Window.orderBy("h")
    merged = (
        ranked.filter(F.col("rn") <= k)
        .select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(wall))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.max(F.when(F.col("rn") <= k, F.col("h"))).alias("kth_hash"),
        )
        .select(F.lit("__all__").alias("scope"), "n_keys", "kth_hash")
    )
    est = F.round(
        F.when(F.col("n_keys") < k, F.col("n_keys").cast("double")).otherwise(
            F.lit(float(k - 1)) * 4294967296.0 / F.col("kth_hash")
        ),
        4,
    )
    return per_type.unionAll(merged).select(
        "scope", "n_keys", "kth_hash", est.alias("est_distinct")
    )


@query(
    "sketch_kmv_jaccard",
    category="D.agg",
    oracle=f"""
WITH hashes AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS h
  FROM events
),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hashes
  ) WHERE rn <= {_KMV_K}
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM sk) a
  JOIN (SELECT DISTINCT event_type FROM sk) b ON a.event_type < b.event_type
),
uni AS (
  SELECT p.type_a, p.type_b, s.h,
         row_number() OVER (PARTITION BY p.type_a, p.type_b ORDER BY s.h) AS rn
  FROM pairs p
  JOIN (SELECT DISTINCT event_type, h FROM sk) s
    ON s.event_type IN (p.type_a, p.type_b)
  GROUP BY p.type_a, p.type_b, s.h
),
kmin AS (SELECT type_a, type_b, h FROM uni WHERE rn <= {_KMV_K}),
inter AS (
  SELECT k.type_a, k.type_b,
         count(*) AS k_eff,
         sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                  THEN 1 ELSE 0 END)::BIGINT AS n_both
  FROM kmin k
  LEFT JOIN sk sa ON sa.event_type = k.type_a AND sa.h = k.h
  LEFT JOIN sk sb ON sb.event_type = k.type_b AND sb.h = k.h
  GROUP BY k.type_a, k.type_b
)
SELECT type_a, type_b, k_eff::BIGINT AS k_eff, n_both,
       round(n_both::DOUBLE / k_eff, 6) AS jaccard_est
FROM inter
""",
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ALGEBRA: pairwise user-set Jaccard between event types
    estimated purely from the per-type KMV sketches — the k smallest
    hashes of the union of two sketches form a uniform sample of the
    union, and the fraction present in BOTH sketches estimates
    J = |A∩B|/|A∪B| (Beyer et al., SIGMOD'07). Nothing re-touches the
    raw data after the one sketch-build scan: pair enumeration, union
    k-mins and membership probes all run on |types|·k rows — this is
    how audience-overlap questions get answered at 100 TB, from
    partials a rollup already maintains. Deterministic md5 hashing
    end-to-end, so the estimate replays exactly in the oracle."""
    k = _KMV_K
    ev = Tables(spark, sf_dir).events
    hashes = ev.select(
        "event_type",
        md5_int(F.col("user_id")).alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("event_type", "h")
        .cache()  # probed three times (pair union + two membership sides)
    )
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    uni = (
        pairs.join(
            sk.withColumnRenamed("event_type", "et"),
            (F.col("et") == F.col("type_a")) | (F.col("et") == F.col("type_b")),
        )
        .select("type_a", "type_b", "h")
        .distinct()
    )
    wu = Window.partitionBy("type_a", "type_b").orderBy("h")
    kmin = uni.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= k)
    sa = sk.select(
        F.col("event_type").alias("type_a"), F.col("h").alias("h"), F.lit(1).alias("ina")
    )
    sb = sk.select(
        F.col("event_type").alias("type_b"), F.col("h").alias("h"), F.lit(1).alias("inb")
    )
    inter = (
        kmin.join(F.broadcast(sa), ["type_a", "h"], "left")
        .join(F.broadcast(sb), ["type_b", "h"], "left")
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("k_eff"),
            # WHEN/OTHERWISE, not a bool cast: the left-join misses are
            # NULL and (NULL & x) is NULL, so a pair with ZERO common
            # min-hashes (possible on a shrunken fixture) would sum to
            # NULL where the oracle's CASE yields 0 — mirror the CASE
            F.sum(
                F.when(
                    F.col("ina").isNotNull() & F.col("inb").isNotNull(),
                    F.lit(1),
                ).otherwise(F.lit(0)).cast("long")
            ).alias("n_both"),
        )
    )
    return inter.select(
        "type_a",
        "type_b",
        "k_eff",
        "n_both",
        F.round(F.col("n_both").cast("double") / F.col("k_eff"), 6).alias(
            "jaccard_est"
        ),
    )


@query(
    "sketch_hist_quantile",
    category="D.agg",
    oracle="""
WITH h AS (
  SELECT event_type, value AS v, count(*) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
c AS (
  SELECT event_type, v, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum
  FROM h
),
t AS (SELECT event_type, sum(cnt)::BIGINT AS n FROM h GROUP BY 1)
SELECT c.event_type, t.n,
       min(CASE WHEN c.cum >= (t.n * 50 + 99) // 100 THEN c.v END) AS p50,
       min(CASE WHEN c.cum >= (t.n * 90 + 99) // 100 THEN c.v END) AS p90,
       min(CASE WHEN c.cum >= (t.n * 99 + 99) // 100 THEN c.v END) AS p99
FROM c JOIN t USING (event_type)
GROUP BY 1, 2
""",
)
def sketch_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable quantiles (p50/p90/p99 per event type) via the
    value-HISTOGRAM trick: when the value domain is bounded (2-dp
    readings here — ≤ ~56k distinct buckets), the (value → count)
    histogram is a perfectly mergeable sketch — per-partition maps
    merge by key-wise addition (one partial-agg shuffle of |domain|
    rows), and any quantile reads off the cumulative counts exactly.
    This completes the distinct-count analogy: sketch_bitmap_distinct
    is to approx_distinct what this is to approx_percentile — the
    exact-when-domain-allows alternative the lakehouse rollup tier
    should prefer (histograms re-aggregate across days/grains;
    GK/KLL-style approximate sketches are the unbounded-domain
    fallback, surfaced as agg_approx_percentile).

    Quantile convention pinned engine-neutrally: type-1 (lower) —
    smallest v with cum ≥ ⌈p·n⌉, the ceil done in INTEGER arithmetic
    ((n·p + 99) div 100), so every output is an actual data value,
    bit-exact. Plan: one partial-agg shuffle to the histogram, one
    type-keyed window over ≤|domain| rows, one final 5-row aggregate.
    NULL contract: a quantile ranks OBSERVED values — NULL measures are
    excluded on both engines (ARCHITECTURE §22); n is the non-null
    count, the denominator the ranks are read against."""
    ev = Tables(spark, sf_dir).events.where(F.col("value").isNotNull())
    h = ev.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).cache()  # feeds the cumulative window AND the per-type totals
    w = Window.partitionBy("event_type").orderBy("v")
    c = h.select(
        "event_type", "v", F.sum("cnt").over(w).alias("cum")
    )
    t = h.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    j = c.join(F.broadcast(t), "event_type")

    def q(p: int):
        k = F.expr(f"(n * {p} + 99) div 100")
        return F.min(F.when(F.col("cum") >= k, F.col("v")))

    return j.groupBy("event_type", "n").agg(
        q(50).alias("p50"), q(90).alias("p90"), q(99).alias("p99")
    )
