"""Data-quality operators: column profiling, constraint validation, and
exact heavy hitters via bounded-memory candidate pruning.

A 100 TB ingest pipeline gates every load on profile + constraint checks
(the reference's test suite validates the same invariants query-side;
SURVEY.md §5). These are first-class queries here so the checks are
oracle-verified like any other operator:

- ``dq_profile``     — per-column profile (rows/nulls/distincts/min/max)
  of ``documents`` in ONE scan, unpivoted to a row per column.
- ``dq_constraints`` — PK uniqueness, FK containment, range and not-null
  rules over the star schema; one row per rule with a violation count.
- ``heavy_hitters``  — all tokens with frequency > n/k, found with the
  two-phase candidate-prune plan (local Misra-Gries-style threshold →
  exact recount of candidates only). The result is EXACT (and therefore
  DuckDB-checkable) while the plan keeps every stage's state bounded.

Scale notes:
- ``dq_profile`` is a single wide aggregate (Catalyst plans the five
  count-distincts via one Expand ×6 — one scan, one shuffle of partial
  aggregates). At 100 TB swap ``countDistinct`` for
  ``approx_count_distinct`` (HLL partials, no Expand); exact here because
  exactness is what the oracle gate can check.
- ``dq_constraints`` does one aggregate pass per table plus two
  broadcast anti-joins for the FK rules (dim side broadcast; no shuffle
  of the fact table).
- ``heavy_hitters``' candidate phase shuffles at most (distinct words ×
  partitions) pre-combined rows and its per-task state is bounded by the
  local vocabulary, never the global one; the recount phase semi-joins a
  broadcast candidate list (≤ k·P rows by the pigeonhole bound) so the
  big shuffle carries candidate words only. A plain groupBy(word) would
  shuffle the full vocabulary — the classic skew/memory hazard this
  sketch exists to avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..functions.tokens import shingles, tokens
from ..registry import query
from ..sources.loader import Tables
from ._memo import session_cache

#: heavy-hitter parameter: report tokens with freq > n/K (strict, exact
#: integer compare n_word·K > n — no float threshold).
HH_K = 31

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def _profile_oracle() -> str:
    branches = [
        f"""SELECT '{c}' AS col_name,
       count(*) AS n_rows,
       count(*) - count({c}) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       min({c}::VARCHAR) AS min_str,
       max({c}::VARCHAR) AS max_str
FROM documents"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(branches)


@query("dq_profile", category="L.quality", oracle=_profile_oracle())
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of ``documents`` — rows, nulls, distinct counts and
    lexicographic min/max — computed in ONE scan as a single wide
    aggregate, then unpivoted with ``stack`` to a row per column.

    min/max are taken over the STRING rendering of each column (both
    engines render BIGINT/VARCHAR identically, so '99' > '100'
    lexicographically by design — it is a fingerprint, not an order
    statistic; ``documents`` carries no doubles, whose rendering differs
    between engines). The oracle spells the same profile as a 5-branch
    UNION ALL; Spark's form is the scan-once plan you want at scale."""
    d = Tables(spark, sf_dir).documents
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}__mn"),
            F.max(F.col(c).cast("string")).alias(f"{c}__mx"),
        ]
    one = d.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack_args})"
        " AS (col_name, n_notnull, n_distinct, min_str, max_str)",
    ).select(
        "col_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_notnull")).alias("n_null"),
        "n_distinct",
        "min_str",
        "max_str",
    )


@query(
    "dq_constraints",
    category="L.quality",
    oracle="""
SELECT 'orders_pk_unique' AS rule,
       count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
UNION ALL
SELECT 'orders_totalprice_positive',
       count(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice <= 0)
FROM orders
UNION ALL
SELECT 'lineitem_pk_unique',
       count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
UNION ALL
SELECT 'lineitem_discount_range',
       count(*) FILTER (WHERE l_discount IS NULL
                           OR l_discount < 0 OR l_discount > 1)
FROM lineitem
UNION ALL
SELECT 'orders_fk_customer', count(*)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
UNION ALL
SELECT 'lineitem_fk_orders', count(*)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL
""",
)
def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation over the star schema: PK uniqueness, value
    ranges (NULL counts as a violation — a NULL price is not a valid
    positive price), and FK containment via broadcast ANTI joins (the dim
    side broadcasts; the fact table is never shuffled). Per-table rules
    share one scan each via a multi-aggregate + stack; the output is one
    (rule, n_violations) row per rule. Five rules hold on the fixture;
    lineitem's (l_orderkey, l_linenumber) pair genuinely repeats there,
    so that rule reports a real nonzero count — evidence the gate
    detects violations rather than emitting zeros."""
    t = Tables(spark, sf_dir)
    orders_rules = t.orders.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk"),
        F.count(
            F.when(F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0), 1)
        ).alias("price"),
    ).selectExpr(
        "stack(2, 'orders_pk_unique', pk, 'orders_totalprice_positive', price)"
        " AS (rule, n_violations)"
    )
    li_rules = t.lineitem.agg(
        (F.count(F.lit(1)) - F.countDistinct("l_orderkey", "l_linenumber")).alias(
            "pk"
        ),
        F.count(
            F.when(
                F.col("l_discount").isNull()
                | (F.col("l_discount") < 0)
                | (F.col("l_discount") > 1),
                1,
            )
        ).alias("disc"),
    ).selectExpr(
        "stack(2, 'lineitem_pk_unique', pk, 'lineitem_discount_range', disc)"
        " AS (rule, n_violations)"
    )
    fk_orders = (
        t.orders.join(
            F.broadcast(t.customer),
            t.orders.o_custkey == t.customer.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("orders_fk_customer").alias("rule"), "n_violations")
    )
    fk_li = (
        t.lineitem.join(
            t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey, "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("lineitem_fk_orders").alias("rule"), "n_violations")
    )
    return orders_rules.unionAll(li_rules).unionAll(fk_orders).unionAll(fk_li)


@query(
    "heavy_hitters",
    category="D.agg",
    oracle=f"""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
SELECT word, count(*) AS n_word, (SELECT count(*) FROM w) AS n_total
FROM w
GROUP BY word
HAVING count(*) * {HH_K} > (SELECT count(*) FROM w)
""",
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens with count·K > n, K=31 = HH_K) via the
    two-phase candidate-prune plan:

    1. Candidate phase — per input partition p, keep words with local
       count·K > n_p. Pigeonhole: a globally heavy word must be locally
       heavy in ≥1 partition (if c_p·K ≤ n_p everywhere, summing gives
       c·K ≤ n), so the union of local survivors is a SUPERSET of the
       answer with ≤ K candidates per partition — bounded no matter how
       large the vocabulary. Expressed declaratively as
       groupBy(spark_partition_id(), word): rows of one (pid, word) pair
       already live in partition pid, and map-side partial aggregation
       completes each count locally, so the exchange carries only
       per-partition distinct words.
    2. Recount phase — broadcast the candidate list, semi-join it into a
       fresh scan (filter applied AT the scan), and count exactly; keep
       count·K > n by exact integer compare (no float threshold). The
       final filter makes the result independent of partitioning — the
       candidate set varies with the physical layout, the answer never
       does — which is what lets DuckDB check it with a plain HAVING.

    The oracle's groupBy-everything plan shuffles the whole vocabulary;
    this plan's big shuffle carries candidate words only — the difference
    between O(vocabulary) and O(k·partitions) state at 100 TB.
    """
    d = Tables(spark, sf_dir).documents
    toks = d.select(F.explode(tokens()).alias("word"))
    local = toks.groupBy(
        F.spark_partition_id().alias("pid"), "word"
    ).agg(F.count(F.lit(1)).alias("c"))
    candidates = (
        local.withColumn("n_p", F.sum("c").over(Window.partitionBy("pid")))
        .where(F.col("c") * HH_K > F.col("n_p"))
        .select("word")
        .distinct()
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        toks.join(F.broadcast(candidates), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_word"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_word") * HH_K > F.col("n_total"))
        .select("word", "n_word", "n_total")
    )


@query(
    "dq_freshness",
    category="L.quality",
    oracle="""
WITH per_type AS (
  SELECT event_type,
         count(*) AS n_events,
         epoch_us(max(ts)::TIMESTAMP) AS max_us
  FROM events GROUP BY event_type
),
anchor AS (SELECT max(max_us) AS global_max_us FROM per_type)
SELECT event_type, n_events,
       (global_max_us - max_us) // 1000000 AS lag_s
FROM per_type CROSS JOIN anchor
""",
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness audit — the third leg of the DQ triad (profile /
    constraints / freshness): per event type, how far its newest event
    lags the newest event anywhere. A silently-stalled upstream
    partition shows up as a growing lag long before row counts drift.
    Lag is RELATIVE to the in-data anchor (never wall clock — the gate
    must be deterministic and replayable), computed in integer
    microseconds then floored to seconds identically on both engines.
    One scan, partial-aggregated; the anchor is a 1-row broadcast."""
    ev = Tables(spark, sf_dir).events
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.unix_micros("ts")).alias("max_us"),
    )
    anchor = per_type.agg(F.max("max_us").alias("global_max_us"))
    return per_type.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "n_events",
        F.floor((F.col("global_max_us") - F.col("max_us")) / 1_000_000)
        .cast("long")
        .alias("lag_s"),
    )


@query(
    "quality_drift_psi",
    category="L.quality",
    oracle="""
WITH b AS (
  SELECT source, n_chars // 100 AS bucket, count(*) AS c
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT bucket, sum(c)::DOUBLE AS tc FROM b GROUP BY 1),
n AS (SELECT source, sum(c)::DOUBLE AS ns FROM b GROUP BY 1),
alln AS (SELECT sum(c)::DOUBLE AS na FROM b),
terms AS (
  SELECT b.source, b.bucket,
         (b.c::DOUBLE / n.ns - (tot.tc - b.c) / (alln.na - n.ns))
         * ln((b.c::DOUBLE / n.ns)
              / ((tot.tc - b.c) / (alln.na - n.ns))) AS term
  FROM b JOIN tot USING (bucket) JOIN n USING (source) CROSS JOIN alln
  WHERE tot.tc - b.c > 0
)
SELECT source,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY bucket)),
                         (s, x) -> s + x), 6) AS psi
FROM terms GROUP BY source
""",
)
def quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift score per source: Population Stability Index of
    each source's doc-length histogram against the rest of the corpus —
    the screen a training pipeline runs when a crawl slice starts looking
    unlike the corpus it feeds (PSI > 0.25 is the classic act threshold).
    psi_s = Σ_buckets (p_i − q_i)·ln(p_i/q_i), p = source share in
    100-char bucket i, q = rest-of-corpus share; buckets the rest never
    hits are skipped (standard finite-sample PSI practice, pinned
    identically in the oracle).

    Plan: ONE shuffle over documents (the (source, bucket) count); every
    later step — bucket totals, source totals, the PSI fold — runs on
    that tiny aggregate (|sources|×|buckets| rows). Float discipline:
    all shares divide exact counts; the cross-bucket sum is a LEFT FOLD
    over bucket-ordered terms (collect_list+aggregate ≡ DuckDB
    list_reduce), so partition fold order can't move the 6-dp value."""
    d = Tables(spark, sf_dir).documents
    # cache: b feeds tot/ns/na/terms — four duplicated logical subtrees
    # would each rescan documents otherwise (STATUS trap); memoized per
    # session so repeated serving runs reuse ONE InMemoryRelation
    b = session_cache(
        spark,
        sf_dir,
        "psi_cells",
        lambda: d.groupBy(
            "source",
            F.floor(F.col("n_chars") / 100).cast("long").alias("bucket"),
        ).agg(F.count(F.lit(1)).alias("c")),
    )
    tot = b.groupBy("bucket").agg(F.sum("c").cast("double").alias("tc"))
    ns = b.groupBy("source").agg(F.sum("c").cast("double").alias("ns"))
    na = b.agg(F.sum("c").cast("double").alias("na"))
    p = F.col("c").cast("double") / F.col("ns")
    q = (F.col("tc") - F.col("c")) / (F.col("na") - F.col("ns"))
    terms = (
        b.join(F.broadcast(tot), "bucket")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(na))
        .where(F.col("tc") - F.col("c") > 0)
        .select("source", "bucket", ((p - q) * F.log(p / q)).alias("term"))
    )
    fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("bucket", "term"))),
            lambda e: e.getField("term"),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    return terms.groupBy("source").agg(F.round(fold, 6).alias("psi"))


@query(
    "quality_drift_ks",
    category="L.quality",
    oracle="""
WITH counts AS (
  SELECT source, n_chars AS v, count(*) AS c FROM documents
  WHERE n_chars IS NOT NULL GROUP BY 1, 2
),
vals AS (SELECT DISTINCT v FROM counts),
srcs AS (SELECT source, sum(c) AS ns FROM counts GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM counts),
grid AS (SELECT s.source, s.ns, v.v FROM srcs s CROSS JOIN vals v),
cum AS (
  SELECT g.source, g.ns, g.v,
         sum(coalesce(c.c, 0))
           OVER (PARTITION BY g.source ORDER BY g.v
                 ROWS UNBOUNDED PRECEDING) AS cs
  FROM grid g LEFT JOIN counts c ON c.source = g.source AND c.v = g.v
),
cumall AS (
  SELECT v, sum(cv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca
  FROM (SELECT v, sum(c) AS cv FROM counts GROUP BY 1)
)
SELECT cum.source,
       round(max(abs(cs::DOUBLE / ns - (ca - cs)::DOUBLE / (n - ns))), 6)
         AS ks
FROM cum JOIN cumall USING (v) CROSS JOIN tot
GROUP BY cum.source
""",
)
def quality_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov drift per source: sup-norm distance between
    each source's doc-length CDF and the rest-of-corpus CDF —
    ``quality_drift_psi``'s nonparametric twin (PSI needs a binning
    choice and skips novel buckets; KS is binning-free and catches
    location shifts PSI's coarse buckets blur). D only changes at jump
    points of either CDF, so evaluating on the union support (every
    distinct length) is exact, not an approximation.

    Plan: ONE aggregation over documents ((source, length) counts);
    everything downstream — the |sources|×|lengths| evaluation grid,
    two running-frame cumsums (O(n) incremental, never a following
    frame), the max — runs on that tiny aggregate. Float discipline:
    CDF values divide exact integer cumulative counts; both engines
    take max over identical doubles; 6-dp rounded. NULL contract: a
    CDF ranks OBSERVED lengths — NULL n_chars rows are excluded on
    both engines (round-11 NULL-text axis)."""
    d = Tables(spark, sf_dir).documents.where(F.col("n_chars").isNotNull())
    # cache: the cell table feeds vals/srcs/grid/per_val — without it the
    # duplicated logical subtrees each rescan documents (STATUS trap);
    # session-memoized (round-10 ADVICE: no per-invocation leak)
    counts = session_cache(
        spark,
        sf_dir,
        "ks_cells",
        lambda: d.groupBy("source", F.col("n_chars").alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        ),
    )
    vals = counts.select("v").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").alias("ns"))
    # driver-side scalar from the cached cells, not another corpus scan
    n_total = counts.agg(F.sum("c")).collect()[0][0]
    grid = srcs.crossJoin(F.broadcast(vals))
    wsrc = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(counts, ["source", "v"], "left")
        .select(
            "source",
            "ns",
            "v",
            F.sum(F.coalesce("c", F.lit(0))).over(wsrc).alias("cs"),
        )
    )
    per_val = counts.groupBy("v").agg(F.sum("c").alias("cv"))
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cumall = per_val.select("v", F.sum("cv").over(wall).alias("ca"))
    # try_divide: a single-source corpus makes the rest-of-corpus side
    # empty (n_total = ns) — ANSI `/` throws where DuckDB's x/0 yields
    # NULL (constant-fixture audit); NULL then propagates through
    # abs/max to a NULL ks on both engines. cs/ns needs no guard
    # (a source present in the group-by has ns ≥ 1).
    dist = F.abs(
        F.col("cs").cast("double") / F.col("ns")
        - F.try_divide(
            (F.col("ca") - F.col("cs")).cast("double"),
            F.lit(n_total) - F.col("ns"),
        )
    )
    return (
        cum.join(F.broadcast(cumall), "v")
        .groupBy("source")
        .agg(F.round(F.max(dist), 6).alias("ks"))
    )


_DRIFT_COLS = ("text", "lang", "source", "n_chars")


def _schema_drift_oracle() -> str:
    branches = []
    for c in _DRIFT_COLS:
        branches.append(
            f"""SELECT '{c}' AS col_name, side, count(*) AS n_rows,
       count(*) - count({c}) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       min({c}::VARCHAR) AS min_str, max({c}::VARCHAR) AS max_str
FROM halves GROUP BY side"""
        )
    inner = "\nUNION ALL\n".join(branches)
    return f"""
WITH halves AS (
  SELECT CASE WHEN doc_id % 10 >= 8 THEN 'incoming' ELSE 'base' END AS side,
         text, lang, source, n_chars
  FROM documents
),
prof AS ({inner})
SELECT b.col_name,
       b.n_rows AS base_rows, i.n_rows AS inc_rows,
       round(b.n_null::DOUBLE / b.n_rows, 6) AS base_null_rate,
       round(i.n_null::DOUBLE / i.n_rows, 6) AS inc_null_rate,
       b.n_distinct AS base_distinct, i.n_distinct AS inc_distinct,
       (i.min_str < b.min_str OR i.max_str > b.max_str) AS range_expanded
FROM (SELECT * FROM prof WHERE side = 'base') b
JOIN (SELECT * FROM prof WHERE side = 'incoming') i USING (col_name)
"""


@query("quality_schema_drift", category="L.quality", oracle=_schema_drift_oracle())
def quality_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-gate schema/profile drift: the incoming batch (doc_id %
    10 ≥ 8 — the pipeline_incremental_dedup split) profiled against the
    existing corpus column-by-column — null-rate shift, distinct-count
    shift, and whether the incoming batch EXPANDS a column's observed
    lexicographic range (new categories / out-of-range values), which is
    the cheap proxy for "this load would break downstream assumptions".
    ONE scan over both halves (side is a derived column, so base and
    incoming profile in the same wide aggregate — the dq_profile shape
    with a side key), then a |cols|-row self-join. At 100 TB the
    incoming side reads only the new partition; rates are single
    divisions of exact counts."""
    d = Tables(spark, sf_dir).documents
    halves = d.select(
        F.when(F.col("doc_id") % 10 >= 8, "incoming").otherwise("base").alias(
            "side"
        ),
        *_DRIFT_COLS,
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _DRIFT_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}__mn"),
            F.max(F.col(c).cast("string")).alias(f"{c}__mx"),
        ]
    prof_wide = halves.groupBy("side").agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in _DRIFT_COLS
    )
    prof = prof_wide.selectExpr(
        "side",
        "n_rows",
        f"stack({len(_DRIFT_COLS)}, {stack_args})"
        " AS (col_name, n_notnull, n_distinct, min_str, max_str)",
    )
    b = prof.filter(F.col("side") == "base").select(
        "col_name",
        F.col("n_rows").alias("base_rows"),
        (F.col("n_rows") - F.col("n_notnull")).alias("b_null"),
        F.col("n_distinct").alias("base_distinct"),
        F.col("min_str").alias("b_min"),
        F.col("max_str").alias("b_max"),
    )
    i = prof.filter(F.col("side") == "incoming").select(
        "col_name",
        F.col("n_rows").alias("inc_rows"),
        (F.col("n_rows") - F.col("n_notnull")).alias("i_null"),
        F.col("n_distinct").alias("inc_distinct"),
        F.col("min_str").alias("i_min"),
        F.col("max_str").alias("i_max"),
    )
    return b.join(i, "col_name").select(
        "col_name",
        "base_rows",
        "inc_rows",
        F.round(F.col("b_null").cast("double") / F.col("base_rows"), 6).alias(
            "base_null_rate"
        ),
        F.round(F.col("i_null").cast("double") / F.col("inc_rows"), 6).alias(
            "inc_null_rate"
        ),
        "base_distinct",
        "inc_distinct",
        (
            (F.col("i_min") < F.col("b_min")) | (F.col("i_max") > F.col("b_max"))
        ).alias("range_expanded"),
    )


#: curation blocklist for quality_blocklist — stand-in for the bad-words
#: / boilerplate lexicon a pretraining pipeline gates on. Drawn from the
#: fixture vocabulary so the gate exercises real hits at any SF.
BLOCKLIST = ("slow", "error", "crash")
BLOCKLIST_MAX_HITS = 2  # docs with more hits than this are dropped


@query(
    "quality_blocklist",
    category="L.quality",
    oracle=f"""
WITH hits AS (
  SELECT d.doc_id, d.source,
         (SELECT count(*) FROM unnest(string_split(d.text, ' ')) AS t(word)
          WHERE word IN {BLOCKLIST}) AS n_hits
  FROM documents d
)
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE n_hits > {BLOCKLIST_MAX_HITS}) AS n_dropped,
       sum(n_hits)::BIGINT AS total_hits,
       max(n_hits)::BIGINT AS max_hits
FROM hits GROUP BY source
""",
)
def quality_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist curation gate — the bad-words / boilerplate filter every
    pretraining pipeline runs before tokenization: count per-document
    hits against a (tiny, broadcastable) lexicon and drop documents over
    the threshold, reporting per-source drop accounting so a corrupted
    shard is visible as an n_dropped spike. The hit count is a pure
    per-row expression (filter the token array against an inlined
    literal lexicon — no explode, no shuffle; at 100 TB the lexicon
    broadcasts as literals exactly like this and the scan stays
    embarrassingly parallel); the only shuffle is the per-source
    accounting agg. Real lexicons (kiloword scale) swap the literal for
    a broadcast join against the exploded tokens — dedup_exact_hash's
    shape — without changing the gate semantics."""
    d = Tables(spark, sf_dir).documents
    lex = F.array(*[F.lit(wd) for wd in BLOCKLIST])
    n_hits = F.size(
        F.filter(F.split(F.col("text"), " "), lambda t: F.array_contains(lex, t))
    ).cast("long")
    h = d.select("doc_id", "source", n_hits.alias("n_hits"))
    return h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("n_hits") > BLOCKLIST_MAX_HITS, 1).otherwise(0)
        ).alias("n_dropped"),
        F.sum("n_hits").cast("long").alias("total_hits"),
        F.max("n_hits").cast("long").alias("max_hits"),
    )


@query(
    "quality_reconcile",
    category="L.quality",
    oracle="""
WITH a AS (
  SELECT o_orderkey, o_totalprice::DECIMAL(18,2) AS price,
         o_orderkey % 64 AS blk
  FROM orders
),
b AS (  -- simulated drifted replica: lost rows + corrupted values
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 997 = 500
              THEN (o_totalprice::DECIMAL(18,2) + 1)::DECIMAL(18,2)
              ELSE o_totalprice::DECIMAL(18,2) END AS price,
         o_orderkey % 64 AS blk
  FROM orders WHERE o_orderkey % 997 <> 13
),
fa AS (
  SELECT blk, count(*) AS cnt_a,
         sum(('0x' || substr(md5('rc:' || o_orderkey::VARCHAR || '|'
                                  || price::VARCHAR), 1, 8))::BIGINT)::BIGINT
           AS fp_a
  FROM a GROUP BY 1
),
fb AS (
  SELECT blk, count(*) AS cnt_b,
         sum(('0x' || substr(md5('rc:' || o_orderkey::VARCHAR || '|'
                                  || price::VARCHAR), 1, 8))::BIGINT)::BIGINT
           AS fp_b
  FROM b GROUP BY 1
)
SELECT fa.blk, fa.cnt_a, coalesce(fb.cnt_b, 0) AS cnt_b,
       CASE WHEN fb.blk IS NULL OR fa.cnt_a <> fb.cnt_b
              THEN 'count_mismatch'
            WHEN fa.fp_a <> fb.fp_b THEN 'content_mismatch'
            ELSE 'ok' END AS status
FROM fa LEFT JOIN fb ON fa.blk = fb.blk
""",
)
def quality_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-fingerprint TABLE RECONCILIATION — the migration/replica
    diff every data platform runs ("did the copy lose or corrupt
    anything?") done the only way that works at 100 TB: never compare
    rows across tables; hash every row to an integer (md5 of the
    canonical key|value rendering — decimal-cast first so both engines
    render identically), sum per key-block (order-free integer sums ⇒
    partition-order-proof), and compare ONE (count, fingerprint) pair
    per block — 64 rows cross the network however big the tables are,
    and only mismatched blocks ever need row-level drill-down
    (re-run with a finer modulus on just those blocks). The replica
    here is derived from orders with deterministic simulated drift
    (rows where key % 997 = 13 lost; values at key % 997 = 500
    corrupted by +1), so the operator provably flags count and
    content mismatches while clean blocks report ok — same
    NULL-synthesis convention as project_null."""
    o = Tables(spark, sf_dir).orders
    price = F.col("o_totalprice").cast("decimal(18,2)")
    a = o.select(
        "o_orderkey",
        price.alias("price"),
        (F.col("o_orderkey") % 64).alias("blk"),
    )
    b = o.filter(F.col("o_orderkey") % 997 != 13).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 997 == 500, (price + 1).cast("decimal(18,2)"))
        .otherwise(price)
        .alias("price"),
        (F.col("o_orderkey") % 64).alias("blk"),
    )

    def fingerprint(df: DataFrame, cnt: str, fp: str) -> DataFrame:
        h = md5_int("rc:", F.col("o_orderkey"), "|", F.col("price"))
        return df.groupBy("blk").agg(
            F.count(F.lit(1)).alias(cnt), F.sum(h).cast("long").alias(fp)
        )

    fa = fingerprint(a, "cnt_a", "fp_a")
    fb = fingerprint(b, "cnt_b", "fp_b")
    j = fa.join(fb, "blk", "left")
    return j.select(
        "blk",
        "cnt_a",
        F.coalesce(F.col("cnt_b"), F.lit(0)).alias("cnt_b"),
        F.when(
            F.col("cnt_b").isNull() | (F.col("cnt_a") != F.col("cnt_b")),
            "count_mismatch",
        )
        .when(F.col("fp_a") != F.col("fp_b"), "content_mismatch")
        .otherwise("ok")
        .alias("status"),
    )


# --- privacy audit: k-anonymity / l-diversity with one-step generalization

KANON_K = 5  # minimum equivalence-class size (the "k" in k-anonymity)


@query(
    "quality_kanon",
    category="L.quality",
    oracle=f"""
WITH b AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg,
         CASE WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END AS band
  FROM customer
),
t0 AS (
  SELECT nk, seg, band,
         count(*) OVER (PARTITION BY nk, seg) AS n0
  FROM b
),
t1 AS (
  SELECT nk, seg, band, n0,
         sum(CASE WHEN n0 < {KANON_K} THEN 1 ELSE 0 END)
           OVER (PARTITION BY nk) AS n1
  FROM t0
),
f AS (
  SELECT CASE WHEN n0 >= {KANON_K} THEN nk
              WHEN n1 >= {KANON_K} THEN nk
              ELSE -1 END AS nationkey,
         CASE WHEN n0 >= {KANON_K} THEN seg ELSE '*' END AS segment,
         CASE WHEN n0 >= {KANON_K} THEN 0
              WHEN n1 >= {KANON_K} THEN 1
              ELSE 2 END AS gen_level,
         band
  FROM t1
)
SELECT nationkey, segment, gen_level,
       count(*)::BIGINT AS class_size,
       count(DISTINCT band)::BIGINT AS l_div
FROM f
GROUP BY nationkey, segment, gen_level
ORDER BY gen_level, nationkey, segment
""",
)
def quality_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    et al. 2007) over the customer quasi-identifiers (nation, market
    segment) with the sensitive attribute = account-balance band
    (neg / mid / high) — the release gate a curation pipeline runs
    before shipping user-adjacent tables into a training corpus, next
    to text_pii_scrub (which redacts values; this audits re-identifying
    GROUPS). One generalization step: equivalence classes smaller than
    k=KANON_K are generalized to (nation, '*');
    classes still under k are fully suppressed into the (-1, '*')
    bucket. Output is one row per FINAL class: size, distinct sensitive
    values (l-diversity), and the generalization level that produced it
    (0 = released as-is, 1 = segment generalized, 2 = suppressed).

    Execution shape: two layered window counts on the same (nation,
    segment) partitioning — ONE shuffle keyed by nation (Spark reuses
    the nk-hash exchange for both windows since (nk, seg) partitions
    nest inside nk) — then a ≤126-class aggregate; pure integer/string
    math, so the oracle is exact. At 100 TB the window form still holds
    (per-nation row groups are the skew bound); the alternative
    two-aggregate + broadcast-back plan trades the window for two
    shuffles of class keys only."""
    c = Tables(spark, sf_dir).customer
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    b = c.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        band.alias("band"),
    )
    k = F.lit(KANON_K)
    t0 = b.withColumn(
        "n0", F.count(F.lit(1)).over(Window.partitionBy("nk", "seg"))
    )
    t1 = t0.withColumn(
        "n1",
        F.sum(F.when(F.col("n0") < k, 1).otherwise(0)).over(
            Window.partitionBy("nk")
        ),
    )
    released = F.col("n0") >= k
    merged = F.col("n1") >= k
    f = t1.select(
        F.when(released | merged, F.col("nk")).otherwise(F.lit(-1)).alias(
            "nationkey"
        ),
        F.when(released, F.col("seg")).otherwise(F.lit("*")).alias("segment"),
        F.when(released, 0).when(merged, 1).otherwise(2).alias("gen_level"),
        "band",
    )
    return (
        f.groupBy("nationkey", "segment", "gen_level")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("band").alias("l_div"),
        )
        .orderBy("gen_level", "nationkey", "segment")
    )


# --- eval-set decontamination: cross-split n-gram containment

# Overlap window: 8-grams, the GPT-2/WebText overlap-analysis length
# (Radford et al. 2019 §4). GPT-3's decontamination lengthened the
# window to 13-grams (Brown et al. 2020, App. C) — a shorter window
# flags MORE aggressively (every 13-gram hit contains 8-gram hits), so
# 8 is the conservative choice for a release gate. Swap to 13 for
# GPT-3-parity; engine and oracle share this constant either way.
DECON_N = 8


@query(
    "quality_decontaminate",
    category="J.pipeline",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
  WHERE text IS NOT NULL
),
ng AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {DECON_N - 1}, 1)),
           i -> array_to_string(t[i:i+{DECON_N - 1}], ' ')))) AS g
  FROM docs
),
ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % 10 = 7),
tr AS (SELECT doc_id, source, g FROM ng WHERE doc_id % 10 <> 7),
hits AS (
  SELECT doc_id, source, count(*)::BIGINT AS n_hits
  FROM tr JOIN ev USING (g) GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_ngrams FROM tr GROUP BY 1)
SELECT h.doc_id, h.source, h.n_hits, s.n_ngrams,
       round(h.n_hits::DOUBLE / s.n_ngrams, 6) AS hit_frac
FROM hits h JOIN sizes s USING (doc_id)
""",
)
def quality_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination against a held-out eval set — the
    eval-hygiene step every serious pretraining pipeline runs (the
    8-gram overlap window is GPT-2's WebText overlap analysis, Radford
    et al. 2019 §4; GPT-3's App. C decontamination widened it to
    13-grams — see the DECON_N note above for why 8 is kept here): a
    TRAIN document is contaminated when it shares ANY
    8-gram with ANY benchmark document, because even partial leakage
    inflates downstream eval scores. The doc_id % 10 = 7 slice stands
    in for the benchmark (the pipeline_incremental_dedup split
    discipline). Reports ONLY contaminated docs (sparse — a clean
    corpus emits nothing): per doc its distinct contaminated-8-gram
    count, its distinct-8-gram total, and the hit fraction that decides
    flag-vs-drop.

    Distinct from the neighboring keys by decision and grain:
    pipeline_incremental_dedup admits by WHOLE-DOC hash (ingest dedup),
    text_substring_dup finds WITHIN-corpus repeated substrings, the
    dedup_* family pairs near-identical docs — decontamination is
    cross-SPLIT sub-document containment, where one shared window
    anywhere taints the doc regardless of overall similarity.

    Scale shape: ONE tokenize pass feeds both splits (cached exploded
    n-gram frame — the sample_dsir one-pass rule); the eval side
    reduces to DISTINCT n-grams and is BROADCAST (benchmarks are MBs
    against a 100 TB corpus — the join ships no corpus bytes); per-doc
    hit and size counts are two partial-agg shuffles over doc_id. The
    8-gram join key rides as the raw string here (exact, like GPT-3);
    at petabyte scale hash it to 8 bytes first (``md5_int``) —
    same plan, smaller shuffle rows, bloom-style false positives only
    ever over-flag. Counts are exact integers; hit_frac is one
    identical double division (denominator ≥ 1 by the greatest()
    window guard, which also keeps sub-8-token docs well-defined:
    their single clamped window IS the doc). NULL contract: non-null
    document stream on both splits (the ``jobs.near_dedup_jaccard`` NULL
    note), mirrored by the oracle's docs CTE."""
    d = Tables(spark, sf_dir).documents.where(F.col("text").isNotNull())
    ngrams = shingles(k=DECON_N)
    # ONE corpus tokenization feeds eval + train + sizes;
    # session-memoized (round-10 ADVICE: no per-invocation leak)
    ng = session_cache(
        spark,
        sf_dir,
        "decon_ngrams",
        lambda: d.select("doc_id", "source", F.explode(ngrams).alias("g")),
    )
    ev = ng.filter(F.col("doc_id") % 10 == 7).select("g").distinct()
    tr = ng.filter(F.col("doc_id") % 10 != 7)
    hits = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "source",
        "n_hits",
        "n_ngrams",
        F.round(
            F.col("n_hits").cast("double") / F.col("n_ngrams"), 6
        ).alias("hit_frac"),
    )
