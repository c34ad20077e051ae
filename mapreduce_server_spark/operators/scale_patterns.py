"""Explicit bloom-filter operators: the hand-rolled twins of Spark's
runtime bloom machinery, expressed so the RESULT stays exact-oracle-
checkable even though the technique exists purely for the physical plan
(SURVEY §2.C/§2.D scale notes; ARCHITECTURE §13). ``join_bloom_semi``
builds the pre-filter by hand where ``join_bloom_runtime``
(relational.py) lets Catalyst's InjectRuntimeFilter compile it — the
pair documents both rungs, exactly like the udf_cogroup_asof/join_asof
cost ladder. ``sketch_bloom`` exposes the filter itself as data (the
membership confusion matrix), next to ``sketch_countmin``/
``sketch_kmv``'s frequency/cardinality sketches in aggregates.py.

Determinism discipline: every hash is ``functions.hashing.md5_int``
(≡ DuckDB ``('0x' || substr(md5(..), 1, 8))::BIGINT``), so bloom
contents replay bit-for-bit in SQL; no RNG anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..functions.numeric import dsum
from ..registry import query
from ..sources.loader import Tables

#: bloom geometry: 2048 bits, 3 hashes (both operators).
BLOOM_M = 2048
BLOOM_K = 3


def _md5_int_sql(prefix: str, expr: str) -> str:
    """DuckDB spelling of ``md5_int(prefix, expr)`` — the sketch_bloom
    oracle is BUILT from this helper so the two engines' hash spellings are one
    definition apart, not two (round-7 ADVICE: an inlined copy could
    drift silently)."""
    return f"('0x' || substr(md5('{prefix}' || ({expr})::VARCHAR), 1, 8))::BIGINT"


#: sketch_bloom oracle fragments, generated per hash index k so the SQL
#: mirrors the Spark side's unrolled k=3 probes exactly.
_BLOOM_BITS_SQL = ", ".join(
    f"{_md5_int_sql(f'bm{i}:', 'o_custkey')} % {BLOOM_M}"
    for i in range(BLOOM_K)
)
_BLOOM_PROBE_SQL = "\n         AND ".join(
    f"({_md5_int_sql(f'bm{i}:', 'c.c_custkey')} % {BLOOM_M}"
    f" IN (SELECT bit FROM bits))"
    for i in range(BLOOM_K)
)


@query(
    "join_bloom_semi",
    category="C.join",
    oracle="""
WITH dim AS (
  SELECT c_custkey FROM customer
  WHERE c_nationkey = 3 AND c_acctbal > 5000
)
SELECT o.o_orderpriority, count(*) AS n_orders,
       sum(o.o_totalprice::DECIMAL(18,2))::DOUBLE AS total
FROM orders o SEMI JOIN dim d ON o.o_custkey = d.c_custkey
GROUP BY 1
""",
)
def join_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join, built BY HAND — the explicit twin of
    ``join_bloom_runtime`` (relational.py), which lets Catalyst's
    ``InjectRuntimeFilter`` compile the same pattern; spelled out here
    so the mechanics are visible and checkable piecewise (and because
    the hand-rolled form works on engines/paths the injector won't
    touch, e.g. pre-filtering before a Python-side stage):
    (1) hash the selective dim key set into
    an m=2048-bit / k=3 bloom (md5-derived positions, aggregated to ONE
    sorted set-bit array row), (2) broadcast it and pre-filter the fact
    scan with 3 ``array_contains`` probes — false positives pass, true
    members never fail, so the filter is SAFE to push below the
    shuffle and typically removes most fact rows before they move —
    then (3) the exact broadcast semi-join removes the false
    positives. Result ≡ plain semi-join (the oracle), by bloom
    one-sidedness. At 100 TB the bloom is the difference between
    shuffling the full fact table and shuffling ~|matches| rows."""
    t = Tables(spark, sf_dir)
    dim = t.customer.filter(
        (F.col("c_nationkey") == 3) & (F.col("c_acctbal") > 5000)
    ).select("c_custkey")
    # set-bit positions, one array row (k hashes per key, deduplicated)
    bits = (
        dim.select(
            F.explode(
                F.array(
                    *[
                        (md5_int(f"bf{i}:", F.col("c_custkey")) % BLOOM_M).alias(
                            f"b{i}"
                        )
                        for i in range(BLOOM_K)
                    ]
                )
            ).alias("bit")
        )
        .agg(F.array_sort(F.collect_set("bit")).alias("bits"))
    )
    o = t.orders
    probed = o.crossJoin(F.broadcast(bits)).filter(
        F.array_contains("bits", md5_int("bf0:", F.col("o_custkey")) % BLOOM_M)
        & F.array_contains("bits", md5_int("bf1:", F.col("o_custkey")) % BLOOM_M)
        & F.array_contains("bits", md5_int("bf2:", F.col("o_custkey")) % BLOOM_M)
    )
    exact = probed.join(
        F.broadcast(dim), probed.o_custkey == dim.c_custkey, "left_semi"
    )
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice")
        .alias("total"),
    )


@query(
    "sketch_bloom",
    category="D.agg",
    oracle=f"""
WITH members AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
),
bits AS (
  SELECT DISTINCT unnest([{_BLOOM_BITS_SQL}]) AS bit
  FROM members
),
probe AS (
  SELECT c.c_custkey,
         {_BLOOM_PROBE_SQL} AS in_bloom,
         c.c_custkey IN (SELECT o_custkey FROM members) AS is_member
  FROM customer c
)
SELECT in_bloom, is_member, count(*)::BIGINT AS n
FROM probe GROUP BY 1, 2
""",
)
def sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch with its confusion matrix: the
    custkeys holding a filled ('F') order are hashed into an m=2048 /
    k=3 bloom, then EVERY customer probes it; output is the (in_bloom,
    is_member) count matrix — the (true, false) × (false, true) cell
    is structurally empty (no false negatives, the bloom guarantee)
    and the (true, false) cell measures the realized false-positive
    rate against the ~m·ln2/k capacity heuristic. The bit set and
    every probe are md5-derived integers, so the sketch content
    replays exactly in SQL; at 100 TB the bits array (≤ 2048 ints)
    broadcasts while members/probes stay distributed."""
    t = Tables(spark, sf_dir)
    members = (
        t.orders.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .distinct()
    )
    ks = F.array(*[F.lit(i) for i in range(BLOOM_K)])
    bits = (
        members.select(F.explode(ks).alias("k"), "o_custkey")
        .select(
            (md5_int("bm", F.col("k"), ":", F.col("o_custkey")) % BLOOM_M).alias(
                "bit"
            )
        )
        .agg(F.array_sort(F.collect_set("bit")).alias("bits"))
    )
    probe = (
        t.customer.select("c_custkey")
        .crossJoin(F.broadcast(bits))
        .join(
            F.broadcast(members),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .select(
            "c_custkey",
            (
                F.array_contains(
                    "bits", md5_int("bm0:", F.col("c_custkey")) % BLOOM_M
                )
                & F.array_contains(
                    "bits", md5_int("bm1:", F.col("c_custkey")) % BLOOM_M
                )
                & F.array_contains(
                    "bits", md5_int("bm2:", F.col("c_custkey")) % BLOOM_M
                )
            ).alias("in_bloom"),
            F.col("o_custkey").isNotNull().alias("is_member"),
        )
    )
    return probe.groupBy("in_bloom", "is_member").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
