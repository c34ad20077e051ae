"""Statistical modeling operators (round 6): per-group OLS regression,
distribution entropy, seasonal decomposition, and deterministic k-means.

These fill the "analytics an ML-data platform runs on top of the
relational core" tier (SURVEY.md §2 cat. D/J north-star): regression and
entropy are the screening statistics a mixture/curation pipeline computes
per shard; seasonality is the time-series twin; k-means is the canonical
iterative-refinement workload (data-mixture clustering over embeddings)
expressed Spark-first — broadcast centroids, map-side assignment,
shuffle only for the partial-aggregated re-centering.

Float discipline (ARCHITECTURE.md §4):
- regression/seasonality moments are EXACT decimal sums (fixture money /
  value columns are 2-dp clean; squares and cross-products are 4-dp
  clean, recovered exactly from the double product since the product ulp
  is far below 5e-5) — the final double arithmetic runs the identical op
  sequence on identical exact operands on both engines, then rounds;
- entropy's cross-category sum is a LEFT FOLD over lang-ordered terms
  (collect_list+aggregate ≡ DuckDB list_reduce), the quality_drift_psi
  pattern, so partition fold order cannot move the 6-dp value;
- k-means centroid hand-off between iterations is ROUNDED to 6 dp — the
  per-dimension double avg differs from DuckDB's only in the last ulp
  (emb_label_centroids precedent), and rounding pins the iteration-2
  input so assignment distances replay bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..functions.numeric import davg, dsum
from ..functions.series import hour_grid, hourly_counts
from ..functions.vector import dot_sql, fsum, norm_sql, sq_dist_sql
from ..registry import query
from ..sources.loader import Tables, fan_out_scan

@query(
    "stat_linreg",
    category="D.agg",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sx,
         sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sy,
         sum((l_quantity * l_extendedprice)::DECIMAL(30,4))::DOUBLE AS sxy,
         sum((l_quantity * l_quantity)::DECIMAL(18,0))::DOUBLE AS sxx,
         sum((l_extendedprice * l_extendedprice)::DECIMAL(30,4))::DOUBLE AS syy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n::BIGINT AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
""",
)
def stat_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS (price ~ quantity): the regr_slope/intercept/r2
    surface, computed from EXACT decimal moments instead of the built-in
    streaming-moment aggregates — Welford-style merges are fold-order-
    dependent, exact Σx/Σy/Σxy/Σx²/Σy² are not, so the slope is
    reproducible across engines AND cluster sizes. One partial-aggregated
    shuffle over lineitem; the closed-form arithmetic runs on |groups|
    rows. At 100 TB this is the cheapest possible regression: no
    iteration, no driver round-trip, map-side combine does ~all the work."""
    li = fan_out_scan(Tables(spark, sf_dir).lineitem, spark)  # §2.5; exact decimal states
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y, scale=4, precision=30).alias("sxy"),
        dsum(x * x, scale=0).alias("sxx"),
        dsum(y * y, scale=4, precision=30).alias("syy"),
    )
    n = F.col("n")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")  # n²·cov
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")  # n²·var(x)
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    # try_divide: a constant regressor (or response, for r2) zeroes the
    # variance denominators — ANSI `/` throws where DuckDB yields NULL
    # (constant-fixture audit); a NULL slope propagates to a NULL
    # intercept on both engines. The /n division needs no guard (every
    # group has n >= 1).
    slope = F.try_divide(cov_n, var_x)
    return m.select(
        "l_returnflag",
        n.alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        F.round(F.try_divide(cov_n * cov_n, var_x * var_y), 6).alias("r2"),
    )


@query(
    "stat_entropy",
    category="D.agg",
    oracle="""
WITH b AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
n AS (SELECT source, sum(c)::DOUBLE AS ns, count(*)::BIGINT AS n_langs
      FROM b GROUP BY 1),
t AS (SELECT b.source, b.lang, n.n_langs,
             -(b.c::DOUBLE / n.ns) * ln(b.c::DOUBLE / n.ns) AS term
      FROM b JOIN n USING (source))
SELECT source,
       max(n_langs) AS n_langs,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY lang)),
                         (s, x) -> s + x), 6) AS entropy,
       round(CASE WHEN max(n_langs) > 1
                  THEN list_reduce(list_prepend(0.0, list(term ORDER BY lang)),
                                   (s, x) -> s + x) / ln(max(n_langs))
                  ELSE 0.0 END, 6) AS entropy_norm
FROM t GROUP BY source
""",
)
def stat_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix (plus the
    0–1-normalized form) — the diversity score a mixture pipeline uses to
    weight corpus shards. H = −Σ p·ln p over exact count shares; the
    cross-language sum is a lang-ordered left fold so it is independent
    of partition fold order (quality_drift_psi pattern). ONE scan of
    documents: the (source, lang) count feeds both the per-source
    totals and the term table, and ReuseExchange does NOT collapse the
    duplicated logical subtree (STATUS trap), so the 100-row aggregate
    is cache()d — without it documents is scanned twice."""
    d = Tables(spark, sf_dir).documents
    b = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c")).cache()
    n = b.groupBy("source").agg(
        F.sum("c").cast("double").alias("ns"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    p = F.col("c").cast("double") / F.col("ns")
    terms = b.join(F.broadcast(n), "source").select(
        "source", "lang", "n_langs", (-p * F.log(p)).alias("term")
    )
    fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("lang", "term"))),
            lambda e: e.getField("term"),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    agg = terms.groupBy("source").agg(
        F.max("n_langs").alias("n_langs"), fold.alias("h")
    )
    return agg.select(
        "source",
        "n_langs",
        F.round(F.col("h"), 6).alias("entropy"),
        F.round(
            F.when(
                F.col("n_langs") > 1,
                F.col("h") / F.log(F.col("n_langs").cast("double")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("entropy_norm"),
    )


@query(
    "ts_seasonality",
    category="E.window",
    oracle="""
WITH h AS (
  SELECT event_type, extract(hour FROM ts)::BIGINT AS hod,
         count(*) AS n, sum(value::DECIMAL(18,2)) AS sdec
  FROM events GROUP BY 1, 2
),
t AS (SELECT event_type, sum(n) AS nt, sum(sdec) AS stdec FROM h GROUP BY 1)
SELECT h.event_type, h.hod, h.n::BIGINT AS n,
       round(h.sdec::DOUBLE / h.n, 6) AS avg_value,
       round((h.sdec::DOUBLE / h.n) / (t.stdec::DOUBLE / t.nt), 6)
         AS seasonal_idx
FROM h JOIN t USING (event_type)
""",
)
def ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type: mean value per
    (type, hour) and the seasonal index (hour mean ÷ type mean) — the
    decomposition behind load forecasting and anomaly baselines. Both
    means come from DECIMAL sums; the type total re-aggregates the 24-row
    hourly DECIMAL partials (still exact — decimal + decimal), so no
    second scan of events and no fold-order dependence. ONE scan + ONE
    shuffle over events; the hourly profile is cache()d because it feeds
    both the type totals and the output join (duplicated-subtree trap),
    and the ≤|types|×24-row totals join back via broadcast."""
    ev = Tables(spark, sf_dir).events
    h = (
        ev.groupBy("event_type", F.hour("ts").cast("long").alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sdec"),
        )
        .cache()
    )
    t = h.groupBy("event_type").agg(
        F.sum("n").alias("nt"), F.sum("sdec").alias("stdec")
    )
    hour_avg = F.col("sdec").cast("double") / F.col("n")
    type_avg = F.col("stdec").cast("double") / F.col("nt")
    return (
        h.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "hod",
            "n",
            F.round(hour_avg, 6).alias("avg_value"),
            # try_divide: a zero type mean (all-zero or sign-cancelling
            # values — reachable with in-contract negative measures) has
            # no seasonal index; DuckDB x/0 is NULL (round-12 ×1e-5 axis)
            F.round(F.try_divide(hour_avg, type_avg), 6).alias("seasonal_idx"),
        )
    )


_KM_K = 8
_KM_DIM = 64


def _km_assign(emb: DataFrame, cents_row: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, entirely map-side: the (cid, cvec)
    list arrives as ONE broadcast row, each vector folds over it and
    takes the lexicographic struct-min (distance, then cid — a total
    order, so ties can't flip with partitioning). The squared distance
    is the left fold in dimension order, identical to the oracle's
    list_reduce(list_prepend(0.0, …)) fold."""
    scored = emb.crossJoin(F.broadcast(cents_row))
    dists = F.expr(
        "transform(cents, c -> struct("
        f"{sq_dist_sql('emb', 'c.cvec', unroll=True)} AS d, c.cid AS cid))"
    )
    return scored.select(
        "vec_id", "emb", F.array_min(dists).getField("cid").alias("cid")
    )


def _km_recenter(asn: DataFrame) -> DataFrame:
    """Per-cluster mean, rounded to 6 dp (the iteration hand-off pin),
    reassembled into dimension-ordered arrays. The explode keys the
    shuffle on (cid, dim) so partial aggregation collapses each map
    partition to ≤ k×dim rows before the exchange."""
    c = (
        asn.select("cid", F.posexplode("emb").alias("dim", "v"))
        .groupBy("cid", "dim")
        .agg(F.round(F.avg("v"), 6).alias("v"))
    )
    return c.groupBy("cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "v"))),
            lambda e: e.getField("v"),
        ).alias("cvec")
    )


def _km_cents_row(c: DataFrame) -> DataFrame:
    return c.agg(F.sort_array(F.collect_list(F.struct("cid", "cvec"))).alias("cents"))


_KM_DIST_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(generate_series(1, {dim}), "
    "i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]))), (s, x) -> s + x)"
).format(dim=_KM_DIM)

_KM_ORACLE = f"""
WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < {_KM_K}),
d1 AS (SELECT e.vec_id, e.emb, c.cid, {_KM_DIST_SQL} AS d
       FROM e CROSS JOIN c0 c),
a1 AS (SELECT vec_id, emb, cid FROM d1
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
x1 AS (SELECT cid, generate_subscripts(emb, 1) AS dim1, unnest(emb) AS v
       FROM a1),
c1 AS (SELECT cid, dim1, round(avg(v), 6) AS v FROM x1 GROUP BY 1, 2),
c1v AS (SELECT cid, list(v ORDER BY dim1) AS cvec FROM c1 GROUP BY 1),
d2 AS (SELECT e.vec_id, e.emb, c.cid, {_KM_DIST_SQL} AS d
       FROM e CROSS JOIN c1v c),
a2 AS (SELECT vec_id, emb, cid FROM d2
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
x2 AS (SELECT cid, generate_subscripts(emb, 1) AS dim1, unnest(emb) AS v
       FROM a2)
SELECT cid, (dim1 - 1)::BIGINT AS dim, round(avg(v), 6) AS centroid,
       count(*)::BIGINT AS n
FROM x2 GROUP BY cid, dim1
"""


@query("ml_kmeans", category="J.sim", oracle=_KM_ORACLE)
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=8 = _KM_K, 2 iterations) over the
    embedding corpus — data-mixture clustering expressed as ONE
    declarative plan, no driver round-trip between iterations. Seeds are
    the first k vectors by vec_id (seedless-deterministic, like
    split_deterministic); every assignment pass is map-side (centroids
    travel as one broadcast row, argmin is a lexicographic struct-min
    with cid tiebreak); each re-centering is one partial-aggregated
    shuffle of (cid, dim) pairs. Centroid hand-off is rounded to 6 dp so
    iteration 2 replays bit-for-bit in the oracle (module docstring).
    Returns (cid, dim, centroid, n) — n is the cluster size. At 100 TB:
    per-iteration cost is a corpus scan + a k×dim-sized shuffle; empty
    clusters simply drop (k shrinks), matching the oracle's GROUP BY.
    """
    e = Tables(spark, sf_dir).embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    ).cache()  # scanned by seeds + both assignment passes (MLlib caches too)
    c0 = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cvec")
    )
    a1 = _km_assign(e, _km_cents_row(c0))
    a2 = _km_assign(e, _km_cents_row(_km_recenter(a1)))
    return (
        a2.select("cid", F.posexplode("emb").alias("dim", "v"))
        .groupBy("cid", "dim")
        .agg(
            F.round(F.avg("v"), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "cid", F.col("dim").cast("long").alias("dim"), "centroid", "n"
        )
    )


@query(
    "ts_cusum",
    category="E.window",
    oracle="""
WITH RECURSIVE obs AS (
  SELECT user_id, value, ts, event_id FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
),
agg AS (
  SELECT user_id, count(*) AS n,
         sum(value::DECIMAL(18,2))::DOUBLE AS s,
         sum((value * value)::DECIMAL(24,4))::DOUBLE AS ssq
  FROM obs GROUP BY 1
),
m AS (SELECT user_id, n, s / n AS mean, ssq / n AS msq FROM agg),
p AS (SELECT user_id, n, mean,
             sqrt(greatest(0.0, msq - mean * mean)) AS std
      FROM m),
series AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM obs
),
cusum AS (
  SELECT s.user_id, s.i,
         greatest(0.0, s.value - p.mean - 0.5 * p.std) AS c
  FROM series s JOIN p USING (user_id) WHERE s.i = 1
  UNION ALL
  SELECT s.user_id, s.i,
         greatest(0.0, h.c + (s.value - p.mean - 0.5 * p.std))
  FROM cusum h
  JOIN series s ON s.user_id = h.user_id AND s.i = h.i + 1
  JOIN p ON p.user_id = h.user_id
)
SELECT c.user_id, p.n::BIGINT AS n,
       round(max(c.c), 6) AS max_cusum,
       sum(CASE WHEN c.c > 4.0 * p.std THEN 1 ELSE 0 END)::BIGINT AS n_alarms
FROM cusum c JOIN p USING (user_id)
GROUP BY c.user_id, p.n
""",
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection per user: running
    c_i = max(0, c_{i-1} + (x_i − μ − k)) with slack k = σ/2, alarms at
    c_i > 4σ — the classic upward-shift monitor a drift pipeline runs
    per entity. μ and σ come from EXACT decimal moments (anomaly_zscore
    discipline) so the fold input is partition-order-independent; the
    fold itself is a (ts, event_id)-ordered left fold with
    a {c, mx, alarms} STRUCT accumulator (fine in Spark; the ORACLE must
    use a recursive CTE because DuckDB's list_reduce corrupts
    multi-field accumulators — ts_holt trap). Identical double op
    sequences on both sides; only the final max is rounded.

    Scale: ONE shuffle on user_id computing moments AND the ordered
    value list in the same aggregate; per-group state is bounded by
    per-user activity (≤ ~100 rows here). The alarm count and running
    max live in the accumulator, so nothing is materialized per step.

    NULL contract (round-11 axis): the per-entity series is the
    NON-NULL observation stream of a NON-NULL entity — NULL user_id
    has no partition to route to at scale, and a NULL measure is a
    missing observation, not a data point; both filters are mirrored
    in the oracle's obs CTE (ARCHITECTURE §22)."""
    ev = Tables(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    g = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value"), scale=4, precision=24).alias("ssq"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda e: e.getField("value"),
        ).alias("vals"),
    )
    m = g.select(
        "user_id",
        "n",
        "vals",
        (F.col("s") / F.col("n")).alias("mean"),
        (F.col("ssq") / F.col("n")).alias("msq"),
    )
    p = m.select(
        "user_id",
        "n",
        "vals",
        "mean",
        F.sqrt(F.greatest(F.lit(0.0), F.col("msq") - F.col("mean") * F.col("mean"))).alias("std"),
    )

    def step(s: Column, x: Column) -> Column:
        c = F.greatest(
            F.lit(0.0),
            s.getField("c") + (x - F.col("mean") - 0.5 * F.col("std")),
        )
        return F.struct(
            c.alias("c"),
            F.greatest(s.getField("mx"), c).alias("mx"),
            (
                s.getField("al")
                + F.when(c > 4.0 * F.col("std"), F.lit(1)).otherwise(F.lit(0))
            ).alias("al"),
        )

    seed = F.struct(
        F.lit(0.0).alias("c"),
        F.lit(float("-inf")).alias("mx"),
        F.lit(0).alias("al"),
    )
    st = F.aggregate(F.col("vals"), seed, step)
    return p.select(
        "user_id",
        "n",
        F.round(st.getField("mx"), 6).alias("max_cusum"),
        st.getField("al").cast("long").alias("n_alarms"),
    )


@query(
    "stat_chi2",
    category="D.agg",
    oracle="""
WITH o AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
r AS (SELECT source, sum(c) AS rs FROM o GROUP BY 1),
col AS (SELECT lang, sum(c) AS cs FROM o GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM o),
cells AS (
  SELECT o.source, o.lang,
         (o.c::DOUBLE - r.rs::DOUBLE * col.cs / tot.n)
         * (o.c::DOUBLE - r.rs::DOUBLE * col.cs / tot.n)
         / (r.rs::DOUBLE * col.cs / tot.n) AS term
  FROM o JOIN r USING (source) JOIN col USING (lang) CROSS JOIN tot
)
SELECT round(list_reduce(list_prepend(0.0,
         list(term ORDER BY source, lang)), (s, x) -> s + x), 6) AS chi2,
       count(*)::BIGINT AS n_cells
FROM cells
""",
)
def stat_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence statistic for the source × language
    contingency table (observed cells only, the sparse-table convention)
    — the screen for "does language mix depend on crawl source". All
    expected frequencies derive from exact integer marginals; the
    cross-cell sum is a (source, lang)-ordered left fold (PSI pattern)
    so the 6-dp statistic is partition-order-independent. ONE shuffle
    builds the contingency table; marginals re-aggregate the tiny cell
    table (cache()d against the duplicated-subtree trap) and broadcast
    back."""
    d = Tables(spark, sf_dir).documents
    o = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c")).cache()
    r = o.groupBy("source").agg(F.sum("c").alias("rs"))
    c = o.groupBy("lang").agg(F.sum("c").alias("cs"))
    tot = o.agg(F.sum("c").alias("n"))
    e = F.col("rs").cast("double") * F.col("cs") / F.col("n")
    cells = (
        o.join(F.broadcast(r), "source")
        .join(F.broadcast(c), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            (
                (F.col("c").cast("double") - e)
                * (F.col("c").cast("double") - e)
                / e
            ).alias("term"),
        )
    )
    fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("source", "lang", "term"))),
            lambda x: x.getField("term"),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    return cells.agg(
        F.round(fold, 6).alias("chi2"), F.count(F.lit(1)).alias("n_cells")
    )


@query(
    "stat_gini",
    category="D.agg",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS i
  FROM events
  WHERE value IS NOT NULL
),
g AS (
  SELECT event_type, count(*) AS n,
         sum(value::DECIMAL(18,2))::DOUBLE AS s,
         sum((i * value)::DECIMAL(28,2))::DOUBLE AS ws
  FROM ranked GROUP BY 1
)
SELECT event_type, n::BIGINT AS n,
       round(2.0 * ws / (n * s) - (n + 1.0) / n, 6) AS gini
FROM g
""",
)
def stat_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of value per event type — the
    inequality screen (is spend concentrated in a few events?) via the
    rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
    values. Both Σx and the rank-weighted Σ(i·xᵢ) are EXACT decimals
    (rank × 2-dp value is 2-dp; the row_number tiebreak on event_id
    makes ranks — and therefore the statistic — a total order, stable
    across engines and partitionings). One window sort + one aggregate,
    both on the same event_type shuffle (sort-within-partition after ONE
    exchange — the secondary-sort shape). NULL contract: a NULL measure
    has no rank in a concentration statistic — non-null observations
    only, mirrored in the oracle (ARCHITECTURE §22)."""
    ev = Tables(spark, sf_dir).events.where(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type", "value", F.row_number().over(w).alias("i")
    )
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s"),
        dsum(F.col("i") * F.col("value"), precision=28).alias("ws"),
    )
    n = F.col("n")
    return g.select(
        "event_type",
        n.alias("n"),
        # try_divide: Σx = 0 (all-zero or sign-cancelling values) has no
        # Gini; DuckDB x/0 is NULL (round-12 ×1e-5 axis)
        F.round(
            F.try_divide(2.0 * F.col("ws"), n * F.col("s")) - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


def cusum_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(μ, σ) per user from the same exact decimal moments ``ts_cusum``
    folds against — the "training window" side of the streaming twin
    (streaming/twins.py:cusum). Textually identical op sequence, so the
    twin's fold input is bit-equal to the batch op's."""
    ev = Tables(spark, sf_dir).events
    g = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value"), scale=4, precision=24).alias("ssq"),
    )
    m = g.select(
        "user_id",
        (F.col("s") / F.col("n")).alias("mean"),
        (F.col("ssq") / F.col("n")).alias("msq"),
    )
    return m.select(
        "user_id",
        "mean",
        F.sqrt(
            F.greatest(F.lit(0.0), F.col("msq") - F.col("mean") * F.col("mean"))
        ).alias("std"),
    )


@query(
    "stat_mannwhitney",
    category="D.agg",
    oracle="""
WITH obs AS (SELECT source, n_chars FROM documents
             WHERE n_chars IS NOT NULL),
v AS (SELECT n_chars AS val, count(*) AS cnt FROM obs GROUP BY 1),
cum AS (SELECT val, cnt,
               (sum(cnt) OVER (ORDER BY val) - cnt)::BIGINT AS bef
        FROM v),
sv AS (SELECT source, n_chars AS val, count(*) AS c
       FROM obs GROUP BY 1, 2),
n AS (SELECT source, count(*) AS ns FROM obs GROUP BY 1),
tot AS (SELECT count(*) AS nt FROM obs),
r AS (SELECT sv.source,
             sum(sv.c * (2 * cum.bef + cum.cnt + 1))::BIGINT AS r2
      FROM sv JOIN cum USING (val) GROUP BY 1)
SELECT r.source, n.ns::BIGINT AS n_s,
       (r.r2 - n.ns * (n.ns + 1)) / 2.0 AS u_stat,
       round(((r.r2 - n.ns * (n.ns + 1)) / 2.0)
             / (n.ns::DOUBLE * (tot.nt - n.ns)), 6) AS auc
FROM r JOIN n USING (source) CROSS JOIN tot
""",
)
def stat_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U per source vs rest-of-corpus over doc length — the
    rank-based drift test completing the drift triad (PSI: binned,
    KS: sup-CDF, U: rank-sum / AUC). Tie handling is exact midranks kept
    in INTEGER arithmetic: doubling the midrank (2·cum_before + cnt + 1)
    makes every term integral, so R₂ = Σ c·(2·mid) is an exact integer
    sum and U = (R₂ − nₛ(nₛ+1))/2 a binary-exact half-integer; auc =
    U/(nₛ·n_rest) ∈ [0,1] is the "P(source doc longer than rest doc)"
    reading. The global rank window runs over the VALUE-LEVEL aggregate
    (|distinct lengths| rows, not |docs|), so the single-partition sort
    window is bounded regardless of corpus size — the same
    aggregate-first trick as quality_drift_ks. NULL contract: a rank
    sum ranks OBSERVED lengths — NULL n_chars rows are excluded on
    both engines, so n_s counts ranked observations (round-11
    NULL-text axis)."""
    d = Tables(spark, sf_dir).documents.where(F.col("n_chars").isNotNull())
    # ONE corpus scan: every other relation re-aggregates the cached
    # (source, val) cell table (duplicated-subtree trap — see stat_entropy)
    sv = (
        d.groupBy("source", F.col("n_chars").alias("val"))
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    v = sv.groupBy("val").agg(F.sum("c").alias("cnt"))
    wv = Window.orderBy("val")
    cum = v.withColumn("bef", F.sum("cnt").over(wv) - F.col("cnt"))
    n = sv.groupBy("source").agg(F.sum("c").alias("ns"))
    tot = n.agg(F.sum("ns").alias("nt"))
    r = (
        sv.join(F.broadcast(cum), "val")
        .groupBy("source")
        .agg(
            F.sum(
                F.col("c") * (2 * F.col("bef") + F.col("cnt") + 1)
            ).alias("r2")
        )
    )
    u = (F.col("r2") - F.col("ns") * (F.col("ns") + 1)) / 2.0
    return (
        r.join(F.broadcast(n), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("ns").alias("n_s"),
            u.alias("u_stat"),
            # try_divide: a single-source corpus makes n_rest = 0 —
            # ANSI `/` throws, DuckDB yields NULL (property-test find)
            F.round(
                F.try_divide(
                    u,
                    F.col("ns").cast("double") * (F.col("nt") - F.col("ns")),
                ),
                6,
            ).alias("auc"),
        )
    )


@query(
    "ts_decay_sum",
    category="E.window",
    oracle="""
WITH RECURSIVE series AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
         coalesce((epoch_us(ts) // 1000000
                   - lag(epoch_us(ts) // 1000000)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id))
                  // 3600, 0) AS dh
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
),
fold AS (
  SELECT user_id, i, value::DOUBLE AS s FROM series WHERE i = 1
  UNION ALL
  SELECT sr.user_id, sr.i,
         sr.value + f.s * (1.0 / ((1::BIGINT << least(sr.dh, 62))::DOUBLE))
  FROM fold f
  JOIN series sr ON sr.user_id = f.user_id AND sr.i = f.i + 1
),
last AS (SELECT user_id, max(i) AS n FROM fold GROUP BY 1)
SELECT f.user_id, last.n::BIGINT AS n, f.s AS decayed_sum
FROM fold f JOIN last ON f.user_id = last.user_id AND f.i = last.n
""",
)
def ts_decay_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed activity score per user (the "hotness" fold):
    s_i = x_i + s_{i-1} · 2^(−Δhours) over the (ts, event_id) order —
    ``ts_ewma``'s IRREGULAR-spacing sibling, where decay follows the
    actual gap between events, not the row count. BIT-EXACT across
    engines with NO libm reliance: the decay factor is built as
    1.0 / (1 << Δh) — an exact power-of-two double (Δh capped at 62 to
    keep the shift in range; beyond that the contribution is < 2⁻⁶²) —
    so every multiply is an exponent shift and the adds run in
    identical order. Δh comes from integer epoch-second arithmetic
    (floor-div 3600; the oracle uses epoch_us // 1e6 because DuckDB's
    epoch()::BIGINT ROUNDS sub-second fractions where unix_seconds
    truncates — ARCHITECTURE §4 rule 5, re-verified building ts_lttb). The gap is computed with a
    lag window BEFORE the collect fold, so the whole op is one
    user-keyed shuffle; the oracle is a recursive CTE (scalar state, but
    kept consistent with the ts_holt template). Output is unrounded —
    the folds are bit-identical by construction. NULL contract: series
    = non-null observations of a non-null entity (ts_cusum note)."""
    ev = Tables(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.unix_seconds(F.col("ts"))
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.coalesce(
            F.floor((es - F.lag(es).over(w)) / 3600).cast("long"), F.lit(0)
        ).alias("dh"),
    ).withColumn(
        # per-row exact power-of-two decay (the Python shiftleft wrapper
        # only takes a literal shift, so build it in SQL form)
        "decay",
        F.expr(
            "1.0 / cast(shiftleft(1L, cast(least(dh, 62) as int)) as double)"
        ),
    )
    vals = F.transform(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "decay", "value"))
        ),
        lambda e: F.struct(
            e.getField("decay").alias("decay"),
            e.getField("value").alias("x"),
        ),
    )
    agg = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), vals.alias("seq")
    )
    st = F.aggregate(
        F.col("seq"),
        F.lit(0.0),
        lambda s, e: e.getField("x") + s * e.getField("decay"),
    )
    return agg.select("user_id", "n", st.alias("decayed_sum"))


@query(
    "stat_welch_t",
    category="D.agg",
    oracle="""
WITH g AS (
  SELECT source, count(*) AS n, sum(n_chars)::BIGINT AS s,
         sum(n_chars * n_chars)::BIGINT AS q
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n)::BIGINT AS nt, sum(s)::BIGINT AS st,
               sum(q)::BIGINT AS qt FROM g),
m AS (
  SELECT g.source, g.n::BIGINT AS n1, tot.nt - g.n AS n2,
         g.s::DOUBLE / g.n AS m1,
         (tot.st - g.s)::DOUBLE / (tot.nt - g.n) AS m2,
         (g.q::DOUBLE / g.n - (g.s::DOUBLE / g.n) * (g.s::DOUBLE / g.n))
           * g.n / (g.n - 1) AS v1,
         ((tot.qt - g.q)::DOUBLE / (tot.nt - g.n)
          - ((tot.st - g.s)::DOUBLE / (tot.nt - g.n))
            * ((tot.st - g.s)::DOUBLE / (tot.nt - g.n)))
           * (tot.nt - g.n) / (tot.nt - g.n - 1) AS v2
  FROM g CROSS JOIN tot
)
SELECT source, n1 AS n_s,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
       round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS df
FROM m
""",
)
def stat_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic (+ Welch–Satterthwaite df) per
    source vs rest-of-corpus over doc length — the parametric partner of
    ``stat_mannwhitney`` (t assumes normal-ish means; U is rank-based;
    run both, trust agreement). Every moment is an exact INTEGER sum
    (n_chars and its square are ints), the rest-of-corpus moments are
    total − source (no second pass), and the double formula runs the
    same textual op sequence on both engines. ONE scan, one tiny
    cached per-source aggregate, broadcast totals."""
    d = Tables(spark, sf_dir).documents
    x = F.col("n_chars")
    g = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("s"),
            F.sum(x * x).alias("q"),
        )
        .cache()
    )
    tot = g.agg(
        F.sum("n").alias("nt"), F.sum("s").alias("st"), F.sum("q").alias("qt")
    )
    j = g.crossJoin(F.broadcast(tot))
    n1 = F.col("n")
    n2 = F.col("nt") - F.col("n")
    m1 = F.col("s").cast("double") / n1
    # try_divide on every zero-able denominator (1-doc source ⇒ n−1 = 0;
    # single-source corpus ⇒ n2 = 0; equal-length degenerate ⇒ se2 = 0):
    # DuckDB's x/0 → NULL, and the NULLs propagate identically
    m2 = F.try_divide((F.col("st") - F.col("s")).cast("double"), n2)
    v1 = F.try_divide(
        (F.col("q").cast("double") / n1 - m1 * m1) * n1, n1 - 1
    )
    v2 = F.try_divide(
        (
            F.try_divide((F.col("qt") - F.col("q")).cast("double"), n2)
            - m2 * m2
        )
        * n2,
        n2 - 1,
    )
    r2 = F.try_divide(v2, n2)
    se2 = v1 / n1 + r2
    return j.select(
        "source",
        n1.alias("n_s"),
        F.round(F.try_divide(m1 - m2, F.sqrt(se2)), 6).alias("t_stat"),
        F.round(
            F.try_divide(
                se2 * se2,
                F.try_divide((v1 / n1) * (v1 / n1), n1 - 1)
                + F.try_divide(r2 * r2, n2 - 1),
            ),
            6,
        ).alias("df"),
    )


_KNN_LABEL_K = 5

_KNN_LABEL_ORACLE = f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
test AS (SELECT * FROM e WHERE vec_id % 2 = 1),
train AS (SELECT * FROM e WHERE vec_id % 2 = 0 AND label IS NOT NULL),
d AS (
  SELECT t.vec_id, tr.vec_id AS nbr, tr.label,
         list_reduce(list_prepend(0.0, list_transform(
             generate_series(1, {_KM_DIM}),
             i -> (t.emb[i] - tr.emb[i]) * (t.emb[i] - tr.emb[i]))),
           (s, x) -> s + x) AS dist
  FROM test t CROSS JOIN train tr
),
topk AS (
  SELECT vec_id, label FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, nbr)
          <= {_KNN_LABEL_K}
),
votes AS (SELECT vec_id, label, count(*) AS votes FROM topk GROUP BY 1, 2)
SELECT vec_id, label AS pred_label, votes::BIGINT AS votes
FROM votes
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY votes DESC, label) = 1
"""


@query("ml_knn_label", category="J.sim", oracle=_KNN_LABEL_ORACLE)
def ml_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label propagation (k=5): every odd-id vector takes the
    majority label of its 5 nearest even-id (labeled) vectors — the
    weak-supervision step that turns a small labeled pool into corpus
    labels. Fully deterministic: exact left-fold squared-L2 distances,
    neighbor tiebreak on vec_id, vote tiebreak on smallest label — so
    the classifier itself carries an exact SQL oracle. The brute-force
    pairing here is the correctness baseline; at corpus scale the
    candidate set comes from the bucketed `knn_join_lsh` path and the
    vote logic is unchanged. One crossJoin (broadcast train side) + one
    window + one count — the train side is the small labeled pool by
    construction, exactly the broadcast-friendly side. NULL contract
    (round-11 axis): an UNLABELED vector cannot vote — the train pool
    filters label IS NOT NULL on both engines (it also removes the
    NULL-label vote group whose tiebreak ordering the engines' NULL
    sort defaults would disagree on)."""
    e = Tables(spark, sf_dir).embeddings.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    # round-13: fan out the single-row-group test scan (guide §2.5) —
    # the broadcast join streams it, so ALL |test|·|train| sq-dists ran
    # in one task; the (dist, nbr) window order is total and the vote
    # counts are partition-free, so round-robin placement is safe. The
    # map-side WindowGroupLimit then prunes each partition to k rows
    # per vec_id BEFORE the window exchange.
    test = fan_out_scan(
        e.filter(F.col("vec_id") % 2 == 1).select(
            "vec_id", F.col("emb").alias("t_emb")
        ),
        spark,
    )
    train = e.filter(
        (F.col("vec_id") % 2 == 0) & F.col("label").isNotNull()
    ).select(
        F.col("vec_id").alias("nbr"),
        F.col("label").alias("n_label"),
        F.col("emb").alias("r_emb"),
    )
    d = test.join(F.broadcast(train)).select(
        "vec_id",
        "nbr",
        "n_label",
        F.expr(sq_dist_sql("t_emb", "r_emb", unroll=True)).alias("dist"),
    )
    wk = Window.partitionBy("vec_id").orderBy("dist", "nbr")
    topk = d.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= _KNN_LABEL_K
    )
    votes = topk.groupBy("vec_id", "n_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.desc("votes"), F.asc("n_label")
    )
    return (
        votes.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") == 1)
        .select("vec_id", F.col("n_label").alias("pred_label"), "votes")
    )


@query(
    "ts_peak_detect",
    category="E.window",
    oracle="""
WITH s AS (
  SELECT user_id, event_id, value,
         lag(value)  OVER w AS prev,
         lead(value) OVER w AS nxt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, value,
       value - greatest(prev, nxt) AS prominence
FROM s
WHERE prev IS NOT NULL AND nxt IS NOT NULL
  AND value > prev AND value > nxt
""",
)
def ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection per user series: events strictly above
    both temporal neighbors, with prominence over the higher shoulder —
    the spike screen before alerting/changepoint logic. Pure lag/lead
    over one (ts, event_id)-ordered window (series endpoints can't be
    peaks); value arithmetic is a single subtraction of identical
    doubles, so the output is exact unrounded. ONE shuffle on user_id."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev"),
        F.lead("value").over(w).alias("nxt"),
    )
    return (
        s.filter(
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("value") > F.col("prev"))
            & (F.col("value") > F.col("nxt"))
        )
        .select(
            "user_id",
            "event_id",
            "value",
            (F.col("value") - F.greatest("prev", "nxt")).alias("prominence"),
        )
    )


_HASH_DIM = 64


@query(
    "text_hash_features",
    category="J.text",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT doc_id,
       ('0x' || substr(md5('feat:' || w), 1, 8))::BIGINT % {_HASH_DIM}
         AS bucket,
       count(*)::BIGINT AS cnt
FROM tok GROUP BY 1, 2
""",
)
def text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): every token maps to one of
    64 (_HASH_DIM) buckets by md5, per-doc bucket counts are the sparse feature
    vector — the vocabulary-free featurizer a streaming/batch trainer
    uses when the token space is unbounded. Output is the sparse COO
    form (doc_id, bucket, cnt); densifying is a collect_list away.
    md5-derived buckets (the minhash/sketch_countmin discipline) make
    the whole transform engine-replayable — no RNG, no vocab broadcast,
    no OOV path. ONE explode + ONE partial-aggregated shuffle; at
    100 TB the shuffle key (doc_id, bucket) is as fine-grained as the
    data, so no hot keys."""
    d = Tables(spark, sf_dir).documents
    from ..functions.tokens import tokens

    return (
        d.select("doc_id", F.explode(tokens()).alias("w"))
        .select(
            "doc_id", (md5_int("feat:", F.col("w")) % _HASH_DIM).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_CENTROID_ORACLE = f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
train AS (SELECT * FROM e WHERE vec_id % 2 = 0),
x AS (SELECT label, generate_subscripts(emb, 1) AS dim1, unnest(emb) AS v
      FROM train),
c AS (SELECT label, dim1, round(avg(v), 6) AS v FROM x GROUP BY 1, 2),
cv AS (SELECT label, list(v ORDER BY dim1) AS cvec FROM c GROUP BY 1),
test AS (SELECT * FROM e WHERE vec_id % 2 = 1),
d AS (
  SELECT t.vec_id, c.label AS cand,
         list_reduce(list_prepend(0.0, list_transform(
             generate_series(1, {_KM_DIM}),
             i -> (t.emb[i] - c.cvec[i]) * (t.emb[i] - c.cvec[i]))),
           (s, x) -> s + x) AS dist
  FROM test t CROSS JOIN cv c
)
SELECT vec_id, cand AS pred_label, dist AS sq_dist
FROM d
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cand) = 1
"""


@query("ml_centroid_classify", category="J.sim", oracle=_CENTROID_ORACLE)
def ml_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: per-label centroids
    train on the even-id pool (6-dp rounded means — the ml_kmeans
    hand-off pin, so distances replay bit-for-bit), odd-id vectors take
    the closest centroid with a label tiebreak. The cheapest supervised
    baseline over embeddings: |labels| centroids travel as ONE broadcast
    row, classification is map-side (the ml_kmeans assignment shape),
    and sq_dist is exact unrounded because every operand is
    engine-identical. Scale: train is one partial-agg shuffle of
    (label, dim); scoring never shuffles."""
    e = Tables(spark, sf_dir).embeddings.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    train = e.filter(F.col("vec_id") % 2 == 0)
    c = (
        train.select("label", F.posexplode("emb").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("v"))
    )
    cv = c.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "v"))),
            lambda s: s.getField("v"),
        ).alias("cvec")
    )
    cents = cv.agg(
        F.sort_array(F.collect_list(F.struct("label", "cvec"))).alias("cents")
    )
    test = e.filter(F.col("vec_id") % 2 == 1)
    scored = test.crossJoin(F.broadcast(cents))
    dists = F.expr(
        "transform(cents, cc -> struct("
        f"{sq_dist_sql('emb', 'cc.cvec', unroll=True)} AS d, cc.label AS label))"
    )
    # name the argmin ONCE — two textual references would run the whole
    # centroid fold twice per row (expression-inlining trap)
    named = scored.select("vec_id", F.array_min(dists).alias("best"))
    return named.select(
        "vec_id",
        F.col("best").getField("label").alias("pred_label"),
        F.col("best").getField("d").alias("sq_dist"),
    )


@query(
    "stat_concentration",
    category="D.agg",
    oracle="""
WITH u AS (
  SELECT event_type, user_id, sum(value::DECIMAL(18,2)) AS s
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, s,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY s DESC, user_id) AS rk
  FROM u
),
t AS (SELECT event_type, count(*) AS n_users, sum(s) AS tot FROM u GROUP BY 1)
SELECT t.event_type, t.n_users::BIGINT AS n_users,
       round(k.top10::DOUBLE / t.tot::DOUBLE, 6) AS cr10
FROM t JOIN (SELECT event_type, sum(s) AS top10 FROM r WHERE rk <= 10
             GROUP BY 1) k USING (event_type)
""",
)
def stat_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 concentration ratio (CR-10) per event type: the share of
    total value held by the 10 heaviest users — the skew screen that
    pairs with ``stat_gini`` (CR-k reads directly as "how hot are the
    hot keys", which is also the salting decision input at 100 TB).
    Everything is DECIMAL-exact until the single final division
    (top-10 decimal sum ÷ total decimal sum), and the user ranking
    carries a user_id tiebreak so borderline rank-10/11 ties cannot
    flip the set across engines. One shuffle builds the (type, user)
    sums; the window and totals run on that aggregate, cache()d
    against the duplicated-subtree trap."""
    ev = Tables(spark, sf_dir).events
    u = (
        ev.groupBy("event_type", "user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
        .cache()
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("s"), F.asc("user_id")
    )
    top = (
        u.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .groupBy("event_type")
        .agg(F.sum("s").alias("top10"))
    )
    t = u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("s").alias("tot")
    )
    return t.join(F.broadcast(top), "event_type").select(
        "event_type",
        "n_users",
        # try_divide: a zero total (sign-cancelling values) has no
        # concentration ratio; DuckDB x/0 is NULL (round-12 ×1e-5 axis)
        F.round(
            F.try_divide(
                F.col("top10").cast("double"), F.col("tot").cast("double")
            ),
            6,
        ).alias("cr10"),
    )


@query(
    "ml_eval_confusion",
    category="J.sim",
    oracle=f"""
SELECT t.label AS true_label, p.pred_label, count(*)::BIGINT AS n
FROM ({_KNN_LABEL_ORACLE}) p
JOIN embeddings t ON t.vec_id = p.vec_id
GROUP BY 1, 2
""",
)
def ml_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the k-NN label propagation: held-out odd-id
    vectors carry TRUE labels too, so the weak-supervision step is
    evaluable in-engine — (true_label, pred_label, n) cells, accuracy =
    trace/total one aggregation away. Composes the registered
    ``ml_knn_label`` plan (predictions) with one broadcast-joined truth
    lookup and a partial-aggregated count; model evaluation is just
    another exact-oracle query, which is the point: the eval harness a
    training pipeline trusts is the same differential-tested engine that
    built the labels."""
    preds = ml_knn_label(spark, sf_dir)
    truth = Tables(spark, sf_dir).embeddings.select(
        "vec_id", F.col("label").alias("true_label")
    )
    return (
        preds.join(F.broadcast(truth), "vec_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_PCA_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
x1 AS (SELECT emb[1] AS s, generate_subscripts(emb, 1) AS dim1,
              unnest(emb) AS v
       FROM e),
a1 AS (SELECT dim1, round(avg(v * s), 6) AS w FROM x1 GROUP BY 1),
n1 AS (SELECT sqrt(list_sum(list_transform(list(w ORDER BY dim1),
                                           x -> x * x))) AS nrm
       FROM a1),
v1 AS (SELECT list(round(w / nrm, 6) ORDER BY dim1) AS vv
       FROM a1 CROSS JOIN n1),
s2 AS (SELECT vec_id, emb,
              list_sum(list_transform(list_zip(emb, vv),
                                      p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS s
       FROM e CROSS JOIN v1),
x2 AS (SELECT s, generate_subscripts(emb, 1) AS dim1, unnest(emb) AS v
       FROM s2),
a2 AS (SELECT dim1, round(avg(v * s), 6) AS w FROM x2 GROUP BY 1),
n2 AS (SELECT sqrt(list_sum(list_transform(list(w ORDER BY dim1),
                                           x -> x * x))) AS nrm
       FROM a2)
SELECT (dim1 - 1)::BIGINT AS dim, round(w / nrm, 6) AS loading
FROM a2 CROSS JOIN n2
"""


@query("ml_pca_power", category="J.sim", oracle=_PCA_ORACLE)
def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus via two
    deterministic power iterations — PCA without ever materializing the
    64×64 covariance: each iteration is v ← normalize(Xᵀ(Xv)/n),
    computed as (a) a map-side exact-fold dot s_i = ⟨emb_i, v⟩ per row,
    then (b) ONE partial-aggregated shuffle of (dim, v·s) pairs — the
    ml_kmeans re-center shape, so cost per iteration is a corpus scan
    plus a dim-sized shuffle regardless of row count. Start vector is
    e₀ (seedless-deterministic), hand-offs are 6-dp-pinned (the
    ml_kmeans discipline) so the oracle replays both iterations
    bit-for-bit; normalization folds the 64 rounded components in dim
    order (functions.vector fsum ≡ list_sum). Returns (dim, loading).
    At 100 TB: more iterations are more scans, never more state; the
    deflation step for further components reuses the same plan.
    """
    e = Tables(spark, sf_dir).embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    ).cache()  # scanned by both iterations

    def step(scored: DataFrame) -> DataFrame:
        """(emb, s) rows → one-row frame with the 6-dp-pinned next v."""
        a = (
            scored.select("s", F.posexplode("emb").alias("dim", "v"))
            .groupBy("dim")
            .agg(F.round(F.avg(F.col("v") * F.col("s")), 6).alias("w"))
        )
        row = a.agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "w"))),
                lambda p: p.getField("w"),
            ).alias("wv")
        )
        return row.select(
            F.transform(
                "wv", lambda x: F.round(x / F.expr(norm_sql("wv")), 6)
            ).alias("vv")
        )

    s1 = e.select("emb", F.col("emb").getItem(0).alias("s"))
    v1 = step(s1)
    s2 = e.crossJoin(F.broadcast(v1)).select(
        "emb", F.expr(dot_sql("emb", "vv", unroll=True)).alias("s")
    )
    # final projection re-derives (dim, loading) from the aggregate, not
    # a second explode of the one-row vector, to keep dims typed long
    a2 = (
        s2.select("s", F.posexplode("emb").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.round(F.avg(F.col("v") * F.col("s")), 6).alias("w"))
    )
    n2 = a2.agg(
        F.sqrt(
            fsum(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "w"))),
                    lambda p: p.getField("w") * p.getField("w"),
                )
            )
        ).alias("nrm")
    )
    return a2.crossJoin(F.broadcast(n2)).select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("w") / F.col("nrm"), 6).alias("loading"),
    )


_LTTB_B = 12  # buckets per user series (first + last + B-2 interior picks)

_LTTB_ORACLE = f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS x, value AS y,
         row_number() OVER w AS pos, count(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
big AS (SELECT * FROM pts WHERE n > {_LTTB_B}),
interior AS (
  SELECT user_id, event_id, x, y,
         least({_LTTB_B} - 3, ((pos - 2) * ({_LTTB_B} - 2)) // (n - 2)) AS b
  FROM big WHERE pos > 1 AND pos < n
),
ends AS (
  SELECT user_id,
         min(CASE WHEN pos = 1 THEN x END)::DOUBLE AS x1,
         min(CASE WHEN pos = 1 THEN y END) AS y1,
         min(CASE WHEN pos = n THEN x END)::DOUBLE AS xn,
         min(CASE WHEN pos = n THEN y END) AS yn
  FROM big WHERE pos = 1 OR pos = n GROUP BY user_id
),
avgs AS (
  SELECT user_id, b,
         sum(x)::DOUBLE / count(*) AS xbar,
         sum(y::DECIMAL(18,2))::DOUBLE / count(*) AS ybar
  FROM interior GROUP BY user_id, b
),
anchors AS (
  SELECT a.user_id, a.b,
         coalesce(lag(a.xbar) OVER u, e.x1) AS ax,
         coalesce(lag(a.ybar) OVER u, e.y1) AS ay,
         coalesce(lead(a.xbar) OVER u, e.xn) AS cx,
         coalesce(lead(a.ybar) OVER u, e.yn) AS cy
  FROM avgs a JOIN ends e USING (user_id)
  WINDOW u AS (PARTITION BY a.user_id ORDER BY a.b)
),
picked AS (
  SELECT user_id, x, y
  FROM (
    SELECT i.user_id, i.b, i.x, i.y, i.event_id,
           abs((k.ax - i.x::DOUBLE) * (k.cy - k.ay)
               - (k.ax - k.cx) * (i.y - k.ay)) AS area
    FROM interior i JOIN anchors k ON i.user_id = k.user_id AND i.b = k.b
  )
  QUALIFY row_number() OVER (PARTITION BY user_id, b
                             ORDER BY area DESC, event_id) = 1
)
SELECT user_id, x AS ts_s, y AS value FROM pts WHERE n <= {_LTTB_B}
UNION ALL
SELECT user_id, x AS ts_s, y AS value FROM big WHERE pos = 1 OR pos = n
UNION ALL
SELECT user_id, x AS ts_s, y AS value FROM picked
"""


@query("ts_lttb", category="E.window", oracle=_LTTB_ORACLE)
def ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of each user's value
    series to ≤12 visually-representative points (Steinarsson 2013 — the
    pre-plot reduction dashboards run on billion-point series), in the
    PARALLEL-anchor variant: each interior bucket keeps the point whose
    triangle against the NEIGHBOR buckets' mean points has maximal area.
    Classic LTTB anchors on the previously-PICKED point (a sequential
    chain per series); anchoring on the previous bucket's mean instead
    removes the chain so all buckets score independently — the standard
    distributed adaptation. First/last points always survive; series
    with ≤ B points pass through whole.

    Plan: ONE shuffle on user_id for the (pos, n) window; the windowed
    points then feed three branches (pass-through, endpoints, interior)
    — cached, duplicated-subtree discipline. Bucket means are a partial
    aggregate (users × B rows), anchors a lag/lead window over them,
    and the scoring join broadcasts the tiny anchor table back onto the
    interior points. The area expression is the same IEEE operation
    tree on both engines over engine-identical inputs (integer epochs;
    decimal-summed means), event_id tiebreak → deterministic pick.
    """
    ev = Tables(spark, sf_dir).events
    B = _LTTB_B
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    pts = ev.select(
        "user_id",
        "event_id",
        F.unix_seconds("ts").alias("x"),
        F.col("value").alias("y"),
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).cache()  # feeds the pass-through, endpoint and interior branches
    out_cols = [
        F.col("user_id"),
        F.col("x").alias("ts_s"),
        F.col("y").alias("value"),
    ]
    small = pts.filter(F.col("n") <= B).select(*out_cols)
    big = pts.filter(F.col("n") > B)
    endpoints = big.filter(
        (F.col("pos") == 1) | (F.col("pos") == F.col("n"))
    ).select(*out_cols)
    interior = big.filter(
        (F.col("pos") > 1) & (F.col("pos") < F.col("n"))
    ).select(
        "user_id",
        "event_id",
        "x",
        "y",
        F.least(
            F.lit(B - 3),
            F.expr(f"((pos - 2) * {B - 2}) div (n - 2)"),
        ).alias("b"),
    ).cache()  # scored twice: bucket means + area join
    ends = big.filter((F.col("pos") == 1) | (F.col("pos") == F.col("n"))).groupBy(
        "user_id"
    ).agg(
        F.min(F.when(F.col("pos") == 1, F.col("x"))).cast("double").alias("x1"),
        F.min(F.when(F.col("pos") == 1, F.col("y"))).alias("y1"),
        F.min(F.when(F.col("pos") == F.col("n"), F.col("x"))).cast("double").alias("xn"),
        F.min(F.when(F.col("pos") == F.col("n"), F.col("y"))).alias("yn"),
    )
    avgs = interior.groupBy("user_id", "b").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("xbar"),
        davg("y").alias("ybar"),
    )
    u = Window.partitionBy("user_id").orderBy("b")
    anchors = avgs.join(ends, "user_id").select(
        "user_id",
        "b",
        F.coalesce(F.lag("xbar").over(u), F.col("x1")).alias("ax"),
        F.coalesce(F.lag("ybar").over(u), F.col("y1")).alias("ay"),
        F.coalesce(F.lead("xbar").over(u), F.col("xn")).alias("cx"),
        F.coalesce(F.lead("ybar").over(u), F.col("yn")).alias("cy"),
    )
    area = F.abs(
        (F.col("ax") - F.col("x").cast("double")) * (F.col("cy") - F.col("ay"))
        - (F.col("ax") - F.col("cx")) * (F.col("y") - F.col("ay"))
    )
    pick_w = Window.partitionBy("user_id", "b").orderBy(
        F.col("area").desc(), "event_id"
    )
    picked = (
        interior.join(F.broadcast(anchors), ["user_id", "b"])
        .withColumn("area", area)
        .withColumn("rn", F.row_number().over(pick_w))
        .filter(F.col("rn") == 1)
        .select(*out_cols)
    )
    return small.unionAll(endpoints).unionAll(picked)


@query(
    "ml_eval_prf",
    category="J.sim",
    oracle=f"""
WITH conf AS (
  SELECT t.label AS true_label, p.pred_label, count(*)::BIGINT AS n
  FROM ({_KNN_LABEL_ORACLE}) p
  JOIN embeddings t ON t.vec_id = p.vec_id
  GROUP BY 1, 2
),
labels AS (
  SELECT true_label AS label FROM conf
  UNION
  SELECT pred_label FROM conf
),
cells AS (
  SELECT l.label,
         coalesce(sum(CASE WHEN c.true_label = l.label
                            AND c.pred_label = l.label THEN c.n END), 0)
           ::BIGINT AS tp,
         coalesce(sum(CASE WHEN c.pred_label = l.label
                            AND c.true_label <> l.label THEN c.n END), 0)
           ::BIGINT AS fp,
         coalesce(sum(CASE WHEN c.true_label = l.label
                            AND c.pred_label <> l.label THEN c.n END), 0)
           ::BIGINT AS fn
  FROM labels l LEFT JOIN conf c
    ON c.true_label = l.label OR c.pred_label = l.label
  GROUP BY l.label
)
SELECT label, tp, fp, fn,
       round(CASE WHEN tp + fp = 0 THEN 0.0
                  ELSE tp::DOUBLE / (tp + fp) END, 6) AS precision_,
       round(CASE WHEN tp + fn = 0 THEN 0.0
                  ELSE tp::DOUBLE / (tp + fn) END, 6) AS recall_,
       round(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                  ELSE (2 * tp)::DOUBLE / (2 * tp + fp + fn) END, 6) AS f1
FROM cells
""",
)
def ml_eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label precision / recall / F1 for the k-NN label propagation
    — the metric block every weak-supervision run reports next to its
    confusion matrix. Derived entirely from the (true, pred, n) cells:
    tp/fp/fn are exact integer sums over the tiny confusion relation
    (≤ |labels|² rows, broadcast), and each metric is one division of
    exact integers (F1 in the 2tp/(2tp+fp+fn) single-division form, so
    no compounded rounding) → bit-identical cross-engine, rounded 6 dp.
    The label list is the union of observed true and predicted labels,
    so a label the classifier never emits still reports recall 0."""
    conf = ml_eval_confusion(spark, sf_dir).cache()
    labels = (
        conf.select(F.col("true_label").alias("label"))
        .union(conf.select("pred_label"))
        .distinct()
    )
    joined = labels.join(
        conf,
        (F.col("true_label") == F.col("label"))
        | (F.col("pred_label") == F.col("label")),
        "left",
    )
    cells = joined.groupBy("label").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("true_label") == F.col("label"))
                    & (F.col("pred_label") == F.col("label")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("pred_label") == F.col("label"))
                    & (F.col("true_label") != F.col("label")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("fp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("true_label") == F.col("label"))
                    & (F.col("pred_label") != F.col("label")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("fn"),
    )
    div = lambda num, den: F.round(
        F.when(den == 0, F.lit(0.0)).otherwise(
            num.cast("double") / den
        ),
        6,
    )
    return cells.select(
        "label",
        "tp",
        "fp",
        "fn",
        div(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision_"),
        div(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall_"),
        div(2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn")).alias(
            "f1"
        ),
    )


_LOGREG_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
                  (label % 2)::DOUBLE AS y
           FROM embeddings),
x1 AS (SELECT y, generate_subscripts(emb, 1) AS dim1, unnest(emb) AS v
       FROM e),
w1 AS (SELECT dim1, round(avg((y - 0.5) * v), 6) AS w FROM x1 GROUP BY 1),
wv AS (SELECT list(w ORDER BY dim1) AS wl FROM w1),
s AS (SELECT y, emb,
             list_sum(list_transform(list_zip(emb, wl),
                                     p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS z
      FROM e CROSS JOIN wv),
p AS (SELECT y, emb, 1.0 / (1.0 + exp(-z)) AS prob FROM s),
x2 AS (SELECT y, prob, generate_subscripts(emb, 1) AS dim1, unnest(emb) AS v
       FROM p),
g2 AS (SELECT dim1, round(avg((y - prob) * v), 6) AS g FROM x2 GROUP BY 1)
SELECT (w1.dim1 - 1)::BIGINT AS dim, w1.w AS w1,
       round(w1.w + g2.g, 6) AS w2
FROM w1 JOIN g2 USING (dim1)
"""


@query("ml_logreg_step", category="J.sim", oracle=_LOGREG_ORACLE)
def ml_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic full-batch gradient-descent steps of logistic
    regression (target: label parity) over the embedding corpus — the
    in-engine trainer shape for linear probes on features the engine
    already serves. Start at w₀ = 0, where σ(0) = ½ EXACTLY, so step 1's
    gradient avg((y − ½)·x) needs no transcendental at all; step 2
    scores z = ⟨x, w₁⟩ with the exact sequential fold and uses the same
    1/(1+exp(−z)) expression tree on both engines (exp() parity holds
    in-container — the scalar_trig precedent). Learning rate 1, 6-dp
    weight pins per step (ml_kmeans hand-off discipline), ascent on
    avg(y − p)·x. Each step is one corpus scan + one dim-sized
    partial-agg shuffle — the ml_pca_power cost shape; at 100 TB more
    epochs are more scans with (dim)-bounded state, i.e. exactly how
    MLlib's LBFGS/GD treemalized gradients work. Returns (dim, w1, w2).
    """
    e = Tables(spark, sf_dir).embeddings.select(
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        (F.col("label") % 2).cast("double").alias("y"),
    ).cache()  # scanned by both steps
    w1 = (
        e.select("y", F.posexplode("emb").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.round(F.avg((F.col("y") - 0.5) * F.col("v")), 6).alias("w"))
    )
    wv = w1.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "w"))),
            lambda p: p.getField("w"),
        ).alias("wl")
    )
    scored = e.crossJoin(F.broadcast(wv)).select(
        "y", "emb", F.expr(dot_sql("emb", "wl", unroll=True)).alias("z")
    )
    probs = scored.select(
        "y", "emb", (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("prob")
    )
    g2 = (
        probs.select("y", "prob", F.posexplode("emb").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.round(F.avg((F.col("y") - F.col("prob")) * F.col("v")), 6).alias("g")
        )
    )
    return w1.join(g2, "dim").select(
        F.col("dim").cast("long").alias("dim"),
        F.col("w").alias("w1"),
        F.round(F.col("w") + F.col("g"), 6).alias("w2"),
    )


_PCA2_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
x1 AS (SELECT emb[1] AS s, generate_subscripts(emb, 1) AS dim1,
              unnest(emb) AS v
       FROM e),
a1 AS (SELECT dim1, round(avg(v * s), 6) AS w FROM x1 GROUP BY 1),
n1 AS (SELECT sqrt(list_sum(list_transform(list(w ORDER BY dim1),
                                           x -> x * x))) AS nrm
       FROM a1),
v1 AS (SELECT list(round(w / nrm, 6) ORDER BY dim1) AS vv
       FROM a1 CROSS JOIN n1),
s2 AS (SELECT vec_id, emb,
              list_sum(list_transform(list_zip(emb, vv),
                                      p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS s
       FROM e CROSS JOIN v1),
x2 AS (SELECT s, generate_subscripts(emb, 1) AS dim1, unnest(emb) AS v
       FROM s2),
a2 AS (SELECT dim1, round(avg(v * s), 6) AS w FROM x2 GROUP BY 1),
n2 AS (SELECT sqrt(list_sum(list_transform(list(w ORDER BY dim1),
                                           x -> x * x))) AS nrm
       FROM a2),
pc1 AS (SELECT list(round(w / nrm, 6) ORDER BY dim1) AS vv
        FROM a2 CROSS JOIN n2),
sc AS (SELECT vec_id, emb, vv,
              list_sum(list_transform(list_zip(emb, vv),
                                      p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS t
       FROM e CROSS JOIN pc1),
d AS (SELECT vec_id,
             list_transform(list_zip(emb, vv),
                            p -> p[1]::DOUBLE - t * p[2]::DOUBLE) AS emb
      FROM sc),
y1 AS (SELECT emb[2] AS s, generate_subscripts(emb, 1) AS dim1,
              unnest(emb) AS v
       FROM d),
b1 AS (SELECT dim1, round(avg(v * s), 6) AS w FROM y1 GROUP BY 1),
m1 AS (SELECT sqrt(list_sum(list_transform(list(w ORDER BY dim1),
                                           x -> x * x))) AS nrm
       FROM b1),
u1 AS (SELECT list(round(w / nrm, 6) ORDER BY dim1) AS vv
       FROM b1 CROSS JOIN m1),
t2 AS (SELECT vec_id, emb,
              list_sum(list_transform(list_zip(emb, vv),
                                      p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS s
       FROM d CROSS JOIN u1),
y2 AS (SELECT s, generate_subscripts(emb, 1) AS dim1, unnest(emb) AS v
       FROM t2),
b2 AS (SELECT dim1, round(avg(v * s), 6) AS w FROM y2 GROUP BY 1),
m2 AS (SELECT sqrt(list_sum(list_transform(list(w ORDER BY dim1),
                                           x -> x * x))) AS nrm
       FROM b2)
SELECT (dim1 - 1)::BIGINT AS dim, round(w / nrm, 6) AS loading
FROM b2 CROSS JOIN m2
"""


@query("ml_pca_deflate", category="J.sim", oracle=_PCA2_ORACLE)
def ml_pca_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal direction via DEFLATION: every row is projected
    off the ml_pca_power direction map-side (x′ = x − ⟨x, v₁⟩·v₁ — one
    fold and one zip per row, no shuffle), then the same two 6-dp-pinned
    power iterations run on the deflated corpus (start vector e₁).
    Composes the REGISTERED pc1 plan — the deflation ladder is how all
    further components come out of the same machinery, one corpus scan
    pair per component, state never exceeding the dim-sized aggregate.
    The pc1 hand-off is the 6-dp rounded unit vector, so the oracle
    replays pc1, the projection, and both pc2 iterations bit-for-bit.
    """
    e = Tables(spark, sf_dir).embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    ).cache()  # scanned by pc1 (via its own cache), deflation and both pc2 iterations
    pc1_row = ml_pca_power(spark, sf_dir).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "loading"))),
            lambda p: p.getField("loading"),
        ).alias("vv")
    )
    sc = e.crossJoin(F.broadcast(pc1_row)).select(
        "vec_id",
        "emb",
        "vv",
        F.expr(dot_sql("emb", "vv", unroll=True)).alias("t"),
    )
    d = sc.select(
        "vec_id",
        F.zip_with("emb", "vv", lambda x, v: x - F.col("t") * v).alias("emb"),
    ).cache()  # deflated corpus feeds both pc2 iterations

    def agg_dir(scored: DataFrame) -> DataFrame:
        return (
            scored.select("s", F.posexplode("emb").alias("dim", "v"))
            .groupBy("dim")
            .agg(F.round(F.avg(F.col("v") * F.col("s")), 6).alias("w"))
        )

    b1 = agg_dir(d.select("emb", F.col("emb").getItem(1).alias("s")))
    u1 = b1.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "w"))),
            lambda p: p.getField("w"),
        ).alias("wv")
    ).select(
        # try_divide: a single-vector corpus deflates to the zero vector
        # (nrm = 0) where DuckDB's x/0 yields NULL and every downstream
        # loading goes NULL on both engines (round-10 sweep)
        F.transform(
            "wv",
            lambda x: F.round(
                F.try_divide(x, F.expr(norm_sql("wv"))),
                6,
            ),
        ).alias("vv")
    )
    b2 = agg_dir(
        d.crossJoin(F.broadcast(u1)).select(
            "emb", F.expr(dot_sql("emb", "vv", unroll=True)).alias("s")
        )
    )
    m2 = b2.agg(
        F.sqrt(
            fsum(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "w"))),
                    lambda p: p.getField("w") * p.getField("w"),
                )
            )
        ).alias("nrm")
    )
    return b2.crossJoin(F.broadcast(m2)).select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.try_divide(F.col("w"), F.col("nrm")), 6).alias("loading"),
    )


_NB_ORACLE = """
WITH train AS (SELECT source, text FROM documents WHERE (doc_id // 20) % 2 = 0),
test AS (SELECT doc_id, source AS true_source, text FROM documents
         WHERE (doc_id // 20) % 2 = 1),
tok AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM train),
wc AS (SELECT source, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
tot AS (SELECT source, sum(cnt)::BIGINT AS tot_c FROM wc GROUP BY 1),
vocab AS (SELECT DISTINCT word FROM tok),
vsize AS (SELECT count(*)::BIGINT AS v FROM vocab),
prior AS (
  SELECT source, count(*) AS n_c,
         (SELECT count(*) FROM train) AS n FROM train GROUP BY 1
),
grid AS (
  SELECT t.source, v.word, coalesce(wc.cnt, 0) AS cnt, t.tot_c
  FROM vocab v CROSS JOIN tot t
  LEFT JOIN wc ON wc.source = t.source AND wc.word = v.word
),
twc AS (
  SELECT doc_id, true_source, word, count(*) AS n_w
  FROM (SELECT doc_id, true_source,
               unnest(string_split(text, ' ')) AS word FROM test)
  GROUP BY 1, 2, 3
),
terms AS (
  SELECT t.doc_id, t.true_source, g.source AS cls, t.word,
         t.n_w * ln((g.cnt + 1)::DOUBLE / (g.tot_c + vs.v)) AS term
  FROM twc t JOIN grid g ON g.word = t.word CROSS JOIN vsize vs
),
scores AS (
  SELECT doc_id, true_source, cls,
         list_sum(list(term ORDER BY word)) AS s
  FROM terms GROUP BY 1, 2, 3
),
scored AS (
  SELECT sc.doc_id, sc.true_source, sc.cls,
         sc.s + ln(p.n_c::DOUBLE / p.n) AS score
  FROM scores sc JOIN prior p ON p.source = sc.cls
),
pred AS (
  SELECT doc_id, true_source, cls AS pred_source FROM scored
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, cls) = 1
)
SELECT true_source, pred_source, count(*) AS n
FROM pred GROUP BY 1, 2
"""


@query("ml_naive_bayes", category="J.text", oracle=_NB_ORACLE)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes text classification entirely in-engine:
    train Laplace-smoothed per-source token likelihoods on alternating
    20-doc blocks (the fixture's source cycles with doc_id % 20, so a
    plain parity split would give disjoint class sets), score the other
    blocks, report the (true, predicted) confusion counts —
    the classical supervised text baseline every curation pipeline
    reaches for before anything neural. All model state is exact
    integer counts; each per-(doc, class) log-likelihood folds its terms
    in WORD ORDER (the stat_entropy ordered-fold discipline ≡ DuckDB's
    list(… ORDER BY word) + list_sum), and ln() parity holds in-container
    (scalar_trig / ml_logreg_step precedent), so the scores — and
    therefore the argmax with class tiebreak — replay exactly. OOV test
    tokens are ignored by definition (a constant per-doc shift that
    cannot move the argmax). Scale: the model grid is vocab × classes
    (broadcast); scoring is one shuffle keyed by (doc, class); training
    is one token-count aggregation — the engine's wordcount with a class
    key."""
    # round-13: fan_out_scan A/B'd and REJECTED here — the train token
    # pass is cached (one fill), so the added exchange only delayed the
    # cache fill (median 3.7 s vs 2.9 s without; the cost lives in the
    # per-(doc,class) scoring join + ordered fold, which the fan-out
    # cannot touch). See OPTIMIZATION_r13.md.
    d = Tables(spark, sf_dir).documents
    train = d.filter((F.col("doc_id") / 20).cast("long") % 2 == 0).select(
        "source", "text"
    )
    test = d.filter((F.col("doc_id") / 20).cast("long") % 2 == 1).select(
        "doc_id", F.col("source").alias("true_source"), "text"
    )
    tok = train.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).cache()  # feeds wc, vocab
    wc = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("cnt")).cache()
    tot = wc.groupBy("source").agg(F.sum("cnt").alias("tot_c"))
    vocab = tok.select("word").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    prior = train.groupBy("source").agg(F.count(F.lit(1)).alias("n_c"))
    n_train = train.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        vocab.crossJoin(tot)
        .join(wc, ["source", "word"], "left")
        .select(
            "source", "word", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"), "tot_c"
        )
    )
    twc = (
        test.select(
            "doc_id", "true_source", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("doc_id", "true_source", "word")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    terms = (
        twc.join(F.broadcast(grid.withColumnRenamed("source", "cls")), "word")
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            "true_source",
            "cls",
            "word",
            (
                F.col("n_w")
                * F.log((F.col("cnt") + 1).cast("double") / (F.col("tot_c") + F.col("v")))
            ).alias("term"),
        )
    )
    scores = terms.groupBy("doc_id", "true_source", "cls").agg(
        fsum(
            F.transform(
                F.sort_array(F.collect_list(F.struct("word", "term"))),
                lambda p: p.getField("term"),
            )
        ).alias("s")
    )
    scored = scores.join(
        F.broadcast(
            prior.crossJoin(n_train).select(
                F.col("source").alias("cls"),
                F.log(F.col("n_c").cast("double") / F.col("n")).alias("logp"),
            )
        ),
        "cls",
    ).select(
        "doc_id", "true_source", "cls", (F.col("s") + F.col("logp")).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cls")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_source", F.col("cls").alias("pred_source"))
    )
    return pred.groupBy("true_source", "pred_source").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "ts_m4",
    category="E.window",
    oracle="""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS x, value AS y,
         row_number() OVER w AS pos, count(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
b AS (
  SELECT user_id, x, y, event_id,
         least(11, ((pos - 1) * 12) // n) AS bkt
  FROM pts
)
SELECT user_id, bkt,
       count(*) AS n,
       min(x) AS t_first, max(x) AS t_last,
       -- arg_min/arg_max over a HUGEINT composite key, not min(STRUCT):
       -- DuckDB 1.0's struct min/max aggregate is super-linear in group
       -- count (this key was the 205 s outlier of the sf1 sweep; its
       -- sibling ts_ohlc OOM-killed the host). event_id is a non-null
       -- unique key < 1e12, so x*1e12 + event_id orders exactly like
       -- (x, event_id); the {'v': y} wrapper keeps a NULL y at the
       -- winning row (bare arg_min skips NULL args).
       (arg_min({'v': y}, x::HUGEINT * 1000000000000 + event_id)).v AS first_v,
       (arg_max({'v': y}, x::HUGEINT * 1000000000000 + event_id)).v AS last_v,
       min(y) AS min_v, max(y) AS max_v
FROM b GROUP BY 1, 2
""",
)
def ts_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (user, pixel
    bucket) keep min/max/first/last — the error-free line-rendering
    aggregation (a width-w plot drawn from M4 is pixel-identical to one
    drawn from raw data), complementing ``ts_lttb``'s
    perceptual-but-lossy pick. 12 equal-COUNT buckets per user series;
    first/last are lexicographic struct min/max with event_id tiebreak
    (the ts_ohlc discipline — plain partial aggregates, no window sort
    in the reduce), so the whole operator is ONE user-keyed window pass
    for positions + one partial-agg shuffle. At 100 TB, M4 is the
    rollup you materialize per zoom level; buckets here are count-based
    (equal-time buckets would just swap the bucket expression)."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    pts = ev.select(
        "user_id",
        "event_id",
        F.unix_seconds("ts").alias("x"),
        F.col("value").alias("y"),
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    b = pts.select(
        "user_id",
        "x",
        "y",
        "event_id",
        F.least(
            F.lit(11), F.expr("((pos - 1) * 12) div n")
        ).alias("bkt"),
    )
    o = F.struct("x", F.col("event_id").alias("id"), F.col("y").alias("yv"))
    return b.groupBy("user_id", "bkt").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("t_first"),
        F.max("x").alias("t_last"),
        F.min(o).getField("yv").alias("first_v"),
        F.max(o).getField("yv").alias("last_v"),
        F.min("y").alias("min_v"),
        F.max("y").alias("max_v"),
    )


@query(
    "win_drawdown",
    category="E.window",
    oracle="""
WITH series AS (
  SELECT user_id, event_id, value,
         sum(value::DECIMAL(18,2)) OVER w AS cum,
         row_number() OVER w AS i
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
),
dd AS (
  SELECT user_id, i, cum,
         max(cum) OVER (PARTITION BY user_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM series
)
SELECT user_id,
       max(peak - cum)::DOUBLE AS max_drawdown,
       max(cum)::DOUBLE AS peak_cum,
       count(*) AS n
FROM dd GROUP BY user_id
""",
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative value series — the
    running-peak-minus-current metric (finance's risk staple, equally
    the "how far below its high-water mark did this queue/budget fall"
    ops question). Everything is DECIMAL-exact: running sum and running
    max are windowed decimal aggregates over the total (ts, event_id)
    order, the drawdown is a decimal difference, and only the final
    report casts to DOUBLE. TWO stacked running frames — cumsum, then
    peak — compile into the same single window pass per user (one
    shuffle); both are O(n) running frames, never the O(n²)
    unbounded-following shape (ARCHITECTURE §13)."""
    ev = Tables(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    series = ev.select(
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).alias("cum"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("i"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = series.select(
        "user_id", "cum", "i", F.max("cum").over(wp).alias("peak")
    )
    return dd.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("cum")).cast("double").alias("max_drawdown"),
        F.max("cum").cast("double").alias("peak_cum"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "stat_runs_test",
    category="D.agg",
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
),
s AS (
  SELECT e.event_type, e.value > m.med AS above,
         row_number() OVER (PARTITION BY e.event_type
                            ORDER BY e.ts, e.event_id) AS i
  FROM events e JOIN med m USING (event_type)
  WHERE e.value <> m.med
),
runs AS (
  SELECT event_type, above,
         CASE WHEN lag(above) OVER (PARTITION BY event_type ORDER BY i)
                   IS DISTINCT FROM above THEN 1 ELSE 0 END AS new_run
  FROM s
),
agg AS (
  SELECT event_type,
         sum(new_run)::BIGINT AS r,
         count(*) AS n,
         sum(CASE WHEN above THEN 1 ELSE 0 END)::BIGINT AS n1
  FROM runs GROUP BY 1
)
SELECT event_type,
       r AS n_runs, n1, (n - n1) AS n2,
       round((r
              - (2.0 * n1 * (n - n1) / n + 1))
             / sqrt(2.0 * n1 * (n - n1) * (2.0 * n1 * (n - n1) - n)
                    / (n * n * (n - 1.0))), 6) AS z_score
FROM agg
""",
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: is the above/below-
    median sequence of values RANDOM in time, or does it cluster
    (autocorrelated instrumentation, batching artifacts)? Values equal
    to the exact median are excluded (standard dichotomization), runs
    are counted with a lag-transition flag (one window pass), and
    z = (R − μ_R)/σ_R uses the textbook moments μ = 2n₁n₂/n + 1,
    σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)) — every input an exact integer, the
    score one fixed double expression, 6-dp rounded. Completes the
    randomness/drift battery (zscore, MAD, CUSUM, KS, PSI, U,
    Benford). One median aggregate (broadcast back) + one
    type-keyed window pass + one partial agg."""
    ev = Tables(spark, sf_dir).events
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    s = (
        ev.join(F.broadcast(med), "event_type")
        .filter(F.col("value") != F.col("med"))
        .select(
            "event_type",
            (F.col("value") > F.col("med")).alias("above"),
            "ts",
            "event_id",
        )
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    runs = s.select(
        "event_type",
        "above",
        F.when(
            ~F.lag("above").over(w).eqNullSafe(F.col("above")), 1
        ).otherwise(0).alias("new_run"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("new_run").alias("r"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("above").cast("long")).alias("n1"),
    )
    n, n1 = F.col("n"), F.col("n1")
    n2 = n - n1
    r = F.col("r")
    mu = 2.0 * n1 * n2 / n + 1
    # try_divide twice: n = 1 zeroes the σ² denominator and n1 = n2 = 1
    # zeroes σ² itself on a shrunken fixture — DuckDB's x/0 → NULL
    # propagates to a NULL z_score; these mirror it exactly
    var = F.try_divide(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n), n * n * (n - 1.0)
    )
    return agg.select(
        "event_type",
        r.alias("n_runs"),
        n1.alias("n1"),
        n2.alias("n2"),
        F.round(F.try_divide(r - mu, F.sqrt(var)), 6).alias("z_score"),
    )


@query(
    "stat_anova",
    category="D.agg",
    oracle="""
WITH g AS (
  SELECT source, count(*) AS n, sum(n_chars)::BIGINT AS s,
         sum(n_chars * n_chars)::BIGINT AS q
  FROM documents GROUP BY 1
),
t AS (
  SELECT count(*) AS k, sum(n)::BIGINT AS nt, sum(s)::BIGINT AS st,
         sum(q)::BIGINT AS qt,
         list_reduce(
           list_prepend(0.0,
             list((s * s)::DOUBLE / n ORDER BY source)),
           (acc, x) -> acc + x) AS t_between
  FROM g
)
SELECT k::BIGINT AS k, nt AS n,
       -- UNROUNDED: every operand here is bit-identical across engines
       -- (integer sums + one ordered fold), so the outputs match
       -- exactly — while round(x, 6) is itself an engine-DIVERGENT op
       -- near a 6-dp tie (Spark rounds the shortest decimal rendering,
       -- DuckDB the binary value). The round-13 sf1 sweep hit exactly
       -- that: ss_within landed ~5e-7 from a tie and the engines split
       -- .599999 / .600000. Rounding identical doubles adds risk and
       -- removes none.
       t_between - st::DOUBLE * st / nt AS ss_between,
       qt - t_between AS ss_within,
       ((t_between - st::DOUBLE * st / nt) * (nt - k))
             / ((qt - t_between) * (k - 1)) AS f_stat
FROM t
""",
)
def stat_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across sources over doc length — the
    k-group generalization of ``stat_welch_t`` (equal-variance form):
    does ANY shard differ in mean length? The screening statistic a
    curation pipeline runs before drilling into per-source drift tests.

    Exactness: per-group n/Σx/Σx² are INTEGER sums; the only
    fold-order-sensitive float quantity is T = Σ_g s_g²/n_g, computed as
    a SOURCE-ORDERED left fold over the 20 per-group doubles
    (collect_list+sort_array+aggregate ≡ DuckDB
    list_reduce(list(... ORDER BY source))), the quality_drift_psi
    pattern. SSB = T − st²/nt, SSW = qt − T, and
    F = SSB·(nt−k) / (SSW·(k−1)) keeps one division. One scan, one
    20-row aggregate — the heavy work is the map-side partial sum."""
    d = Tables(spark, sf_dir).documents
    x = F.col("n_chars")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("q"),
    )
    terms = F.aggregate(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("source"),
                    ((F.col("s") * F.col("s")).cast("double") / F.col("n")
                     ).alias("term"),
                )
            )
        ),
        F.lit(0.0),
        lambda acc, e: acc + e.getField("term"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        terms.alias("t_between"),
    )
    tb = F.col("t_between")
    nt, k = F.col("nt"), F.col("k")
    ssb = tb - F.col("st").cast("double") * F.col("st") / nt
    ssw = F.col("qt") - tb
    return t.select(
        k.alias("k"),
        nt.alias("n"),
        # unrounded — see the oracle comment: identical operands make
        # the outputs exact, and round() near a 6-dp tie is the one
        # engine-divergent op in the plan (round-13 sf1 find)
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        # try_divide: constant values (SSW = 0) or a single group
        # (k = 1) zero the denominator — ANSI `/` throws, DuckDB
        # yields NULL (constant-fixture audit)
        F.try_divide(ssb * (nt - k), ssw * (k - 1)).alias("f_stat"),
    )


@query(
    "stat_spearman",
    category="D.agg",
    oracle="""
WITH r AS (
  SELECT l_returnflag,
         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
           AS rx,
         2 * rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice)
           + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1
           AS ry
  FROM lineitem
  WHERE l_quantity IS NOT NULL
),
m AS (
  SELECT l_returnflag, count(*) AS n,
         sum(rx)::DECIMAL(38,0)::DOUBLE AS sx,
         sum(ry)::DECIMAL(38,0)::DOUBLE AS sy,
         sum(rx * ry)::DECIMAL(38,0)::DOUBLE AS sxy,
         sum(rx * rx)::DECIMAL(38,0)::DOUBLE AS sxx,
         sum(ry * ry)::DECIMAL(38,0)::DOUBLE AS syy
  FROM r GROUP BY 1
)
SELECT l_returnflag, n::BIGINT AS n,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS rho
FROM m
""",
)
def stat_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs price per return flag) —
    the outlier-robust partner of ``agg_corr``'s Pearson: monotone but
    non-linear relationships score |rho| ≈ 1 where Pearson underreads.

    Tie handling is EXACT via the doubled-midrank trick
    (``stat_mannwhitney``): midrank = rank() + (cnt−1)/2, so
    2·midrank = 2·rank() + cnt − 1 is an INTEGER, and Pearson is
    invariant under the ×2 rescale. All five moments are exact integer
    sums (DECIMAL(38,0) — Σrx·ry grows as n·(2n)², past BIGINT at
    cluster scale); the final formula is one identical double op
    sequence on identical operands in both engines.

    Plan (rewritten after FULLBENCH flagged the 4-chained-sort version
    at 1.4 s, then re-parallelized): NO flag-partitioned full-data
    sort at all. The x side (l_quantity, 50 distinct values) never
    sorts row data — its doubled midranks come from a value-level
    histogram (2·Σcnt_lte − cnt + 1) joined back broadcast. The y side
    (l_extendedprice, ~97% unique → a histogram saves nothing) gets a
    TWO-LEVEL distributed rank: a flag-partitioned window would rank
    correctly but with parallelism = |flags| = 3 (at 100 TB that is
    three reducers sorting 33 TB each — the window-parallelism
    ceiling), so instead (1) prices bucket by floor(price/1000), (2) a
    tiny (flag, bucket) histogram yields each bucket's preceding-row
    offset via a window over the aggregate, and (3) ranking runs
    WITHIN (flag, bucket) — parallelism |flags|·|buckets|, each task
    sorting one bucket. Equal prices share a bucket, so the in-bucket
    rank() + tie-inclusive RANGE-frame count (one Window operator —
    both functions share the spec) compose with 2·offset into the
    exact global doubled midrank: ry = rank_in + cnt_lte_in +
    2·offset.

    NULL contract (round-11 axis): rank correlation uses
    PAIRWISE-COMPLETE rows — a NULL measure has no rank; the
    l_quantity IS NOT NULL filter is mirrored in the oracle
    (ARCHITECTURE §22)."""
    li = Tables(spark, sf_dir).lineitem.where(
        F.col("l_quantity").isNotNull()
    )
    flag = "l_returnflag"
    # x: tiny (flag, quantity) histogram → doubled midrank per value
    wq = Window.partitionBy(flag).orderBy("l_quantity")
    hx = (
        li.groupBy(flag, "l_quantity")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            flag,
            "l_quantity",
            (2 * F.sum("cnt").over(wq) - F.col("cnt") + 1).alias("rx_i"),
        )
    )
    # y level 1: per-(flag, bucket) row counts → preceding-row offsets
    bkt = F.floor(F.col("l_extendedprice") / 1000).alias("bkt")
    hb = li.select(flag, bkt).groupBy(flag, "bkt").agg(
        F.count(F.lit(1)).alias("bcnt")
    )
    wb = Window.partitionBy(flag).orderBy("bkt")
    boff = hb.select(
        flag,
        "bkt",
        (F.sum("bcnt").over(wb) - F.col("bcnt")).alias("off"),
    )
    # y level 2: rank + tie-inclusive running count share ONE window
    # operator within each (flag, bucket); offsets restore global ranks
    wy = Window.partitionBy(flag, "bkt").orderBy("l_extendedprice")
    r = (
        li.select(flag, "l_quantity", "l_extendedprice", bkt)
        .withColumn(
            "ry_in", F.rank().over(wy) + F.count(F.lit(1)).over(wy)
        )
        .join(F.broadcast(boff), [flag, "bkt"])
        .join(F.broadcast(hx), [flag, "l_quantity"])
        .select(
            flag,
            F.col("rx_i").cast("decimal(38,0)").alias("rx"),
            (F.col("ry_in") + 2 * F.col("off"))
            .cast("decimal(38,0)")
            .alias("ry"),
        )
    )
    m = r.groupBy(flag).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").cast("double").alias("sx"),
        F.sum("ry").cast("double").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast("double").alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast("double").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("double").alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    # try_divide: a constant column within a flag drives den to 0.0 —
    # ANSI `/` THROWS there while DuckDB x/0 yields NULL (the round-8
    # shrunken-fixture class; this site surfaced via the tie-heavy
    # hypothesis corpora in tests/test_property_stats.py). Bit-identical
    # on every nonzero path.
    return m.select(
        flag, n.alias("n"), F.round(F.try_divide(num, den), 6).alias("rho")
    )


@query(
    "ml_dtree_stump",
    category="J.sim",
    oracle="""
WITH g AS (
  SELECT n_chars AS v, count(*) AS cnt,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
),
tot AS (SELECT sum(cnt)::BIGINT AS n, sum(pos)::BIGINT AS p FROM g),
cum AS (
  SELECT v, sum(cnt) OVER w AS nl, sum(pos) OVER w AS pl
  FROM g WINDOW w AS (ORDER BY v)
),
s AS (
  SELECT c.v AS threshold, c.nl, t.n - c.nl AS nr,
         c.pl, t.p - c.pl AS pr,
         round(((c.pl * c.pl + (c.nl - c.pl) * (c.nl - c.pl))
                  * (t.n - c.nl)
                + ((t.p - c.pl) * (t.p - c.pl)
                   + (t.n - c.nl - t.p + c.pl)
                     * (t.n - c.nl - t.p + c.pl))
                  * c.nl)::DOUBLE
               / (c.nl * (t.n - c.nl)), 6) AS purity
  FROM cum c CROSS JOIN tot t
  WHERE c.nl < t.n
)
SELECT threshold, nl::BIGINT AS n_left, nr::BIGINT AS n_right,
       pl * 2 > nl AS pred_left, pr * 2 > nr AS pred_right,
       purity
FROM s
QUALIFY row_number() OVER (ORDER BY purity DESC, threshold) = 1
""",
)
def ml_dtree_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree STUMP: the exact best binary split of
    ``lang = 'en'`` on doc length by weighted Gini impurity — the inner
    loop of every tree/GBDT trainer, expressed as one declarative plan
    (the split-finding histogram pass of LightGBM/XGBoost's exact mode).

    Split search: candidates are the DISTINCT feature values (split at
    x ≤ v); cumulative class counts come from ONE running window over
    the per-value histogram, so cost is O(distinct values), not O(n·
    candidates). Minimizing weighted Gini  n_L·gini_L + n_R·gini_R  ≡
    maximizing  purity = [(p_L²+q_L²)·n_R + (p_R²+q_R²)·n_L]/(n_L·n_R)
    (same n − ·/(n_L n_R) rearrangement both sides) — an INTEGER-ratio
    criterion, so the argmax double is computed identically in both
    engines; ties break on the smaller threshold. Majority predictions
    use the 2·pos > n integer form (ties → False deterministically).

    Scale: the histogram shrinks the data to |distinct| rows BEFORE the
    single-partition running window (the bounded-aggregate-then-window
    shape); a 100 TB trainer would pre-bin features to ~256 quantile
    buckets first (the LightGBM move), same plan otherwise."""
    # NULL contract (round-11 NULL-text axis): a threshold split cannot
    # route a NULL feature — non-null feature rows only, mirrored in the
    # oracle (the ml_regression_stump rule on the n_chars feature)
    d = Tables(spark, sf_dir).documents.where(F.col("n_chars").isNotNull())
    g = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).cast("long")
        ).alias("pos"),
    ).cache()  # feeds totals AND the cumulative window (§13 dedup rule)
    tot = g.agg(
        F.sum("cnt").alias("n"), F.sum("pos").alias("p")
    )
    wc = Window.orderBy("v")
    cum = g.select(
        "v",
        F.sum("cnt").over(wc).alias("nl"),
        F.sum("pos").over(wc).alias("pl"),
    )
    j = cum.crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("n"))
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("n") - nl
    pr = F.col("p") - pl
    ql = nl - pl
    qr = nr - pr
    purity = (
        ((pl * pl + ql * ql) * nr + (pr * pr + qr * qr) * nl)
        .cast("double") / (nl * nr)
    )
    s = j.select(
        F.col("v").alias("threshold"),
        nl.alias("n_left"),
        nr.alias("n_right"),
        (pl * 2 > nl).alias("pred_left"),
        (pr * 2 > nr).alias("pred_right"),
        F.round(purity, 6).alias("purity"),
    )
    wbest = Window.orderBy(F.col("purity").desc(), "threshold")
    return (
        s.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_RIDGE_LAMBDA = 1000.0

_RIDGE_ORACLE = f"""
WITH m AS (
  SELECT count(*) AS n,
         sum(l_quantity::DECIMAL(18,2))::DOUBLE AS s1,
         sum(l_discount::DECIMAL(18,2))::DOUBLE AS s2,
         sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sy,
         sum((l_quantity * l_quantity)::DECIMAL(30,4))::DOUBLE
           + {_RIDGE_LAMBDA} AS q11,
         sum((l_quantity * l_discount)::DECIMAL(30,4))::DOUBLE AS q12,
         sum((l_discount * l_discount)::DECIMAL(30,4))::DOUBLE
           + {_RIDGE_LAMBDA} AS q22,
         sum((l_quantity * l_extendedprice)::DECIMAL(30,4))::DOUBLE AS p1,
         sum((l_discount * l_extendedprice)::DECIMAL(30,4))::DOUBLE AS p2
  FROM lineitem
),
d AS (
  SELECT n, s1, s2, sy, q11, q12, q22, p1, p2,
         n * (q11 * q22 - q12 * q12) - s1 * (s1 * q22 - q12 * s2)
           + s2 * (s1 * q12 - q11 * s2) AS det
  FROM m
)
SELECT n::BIGINT AS n,
       round((sy * (q11 * q22 - q12 * q12) - s1 * (p1 * q22 - q12 * p2)
              + s2 * (p1 * q12 - q11 * p2)) / det, 6) AS w0,
       round((n * (p1 * q22 - q12 * p2) - sy * (s1 * q22 - q12 * s2)
              + s2 * (s1 * p2 - p1 * s2)) / det, 6) AS w1,
       round((n * (q11 * p2 - p1 * q12) - s1 * (s1 * p2 - p1 * s2)
              + sy * (s1 * q12 - q11 * s2)) / det, 6) AS w2
FROM d
"""


@query("ml_ridge_normal", category="J.sim", oracle=_RIDGE_ORACLE)
def ml_ridge_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form RIDGE regression (price ~ quantity + discount,
    λ = 1000 on the non-intercept diagonal) via the normal equations
    (XᵀX + λI)w = Xᵀy — the "d² partial sums" pattern that makes
    linear-model training a pure aggregation at any scale: ONE scan
    reduces 100 TB to the 9 Gram-matrix moments, and the 3×3 solve is
    O(1) wherever it runs. Here even the solve stays in the engine:
    Cramer's rule expands the determinants as literal arithmetic —
    identical textual op sequence in both engines over EXACT
    decimal-summed moments (quantity integer-valued, discount/price
    2-dp; products 4-dp-clean, the stat_linreg recovery argument) — so
    the coefficients are reproducible to the rounded 6 dp.

    This is the multivariate upgrade of ``stat_linreg`` (which Cramers a
    2×2 implicitly) and the convex-counterpart of ``ml_logreg_step``'s
    iterative path. Plan: map-side partial aggregate → 1-row result; no
    shuffle beyond the final 1-row merge."""
    li = fan_out_scan(Tables(spark, sf_dir).lineitem, spark)  # §2.5; exact decimal states
    x1 = F.col("l_quantity")
    x2 = F.col("l_discount")
    y = F.col("l_extendedprice")
    dec2 = lambda c: c.cast("decimal(18,2)")  # noqa: E731
    dec4 = lambda c: c.cast("decimal(30,4)")  # noqa: E731
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2(x1)).cast("double").alias("s1"),
        F.sum(dec2(x2)).cast("double").alias("s2"),
        F.sum(dec2(y)).cast("double").alias("sy"),
        (F.sum(dec4(x1 * x1)).cast("double") + F.lit(_RIDGE_LAMBDA)).alias(
            "q11"
        ),
        F.sum(dec4(x1 * x2)).cast("double").alias("q12"),
        (F.sum(dec4(x2 * x2)).cast("double") + F.lit(_RIDGE_LAMBDA)).alias(
            "q22"
        ),
        F.sum(dec4(x1 * y)).cast("double").alias("p1"),
        F.sum(dec4(x2 * y)).cast("double").alias("p2"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    q11, q12, q22 = F.col("q11"), F.col("q12"), F.col("q22")
    p1, p2 = F.col("p1"), F.col("p2")
    det = (
        n * (q11 * q22 - q12 * q12)
        - s1 * (s1 * q22 - q12 * s2)
        + s2 * (s1 * q12 - q11 * s2)
    )
    d = m.withColumn("det", det)
    detc = F.col("det")
    return d.select(
        n.alias("n"),
        F.round(
            (
                sy * (q11 * q22 - q12 * q12)
                - s1 * (p1 * q22 - q12 * p2)
                + s2 * (p1 * q12 - q11 * p2)
            )
            / detc,
            6,
        ).alias("w0"),
        F.round(
            (
                n * (p1 * q22 - q12 * p2)
                - sy * (s1 * q22 - q12 * s2)
                + s2 * (s1 * p2 - p1 * s2)
            )
            / detc,
            6,
        ).alias("w1"),
        F.round(
            (
                n * (q11 * p2 - p1 * q12)
                - s1 * (s1 * p2 - p1 * s2)
                + sy * (s1 * q12 - q11 * s2)
            )
            / detc,
            6,
        ).alias("w2"),
    )


@query(
    "ts_sax",
    category="I.stream",
    oracle="""
WITH base AS (
  SELECT user_id, value::DECIMAL(19,2) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
f AS (SELECT * FROM base WHERE n >= 8),
seg AS (
  SELECT user_id, n, ((rn - 1) * 8) // n AS seg,
         count(*) AS cnt, sum(v) AS sv,
         sum((v * v)::DECIMAL(30,4)) AS sq
  FROM f GROUP BY 1, 2, 3
),
mu AS (
  SELECT user_id, sum(cnt)::BIGINT AS nt, sum(sv) AS st, sum(sq) AS qt
  FROM seg GROUP BY 1
),
z AS (
  SELECT s.user_id, s.seg,
         (s.sv::DOUBLE / s.cnt - m.st::DOUBLE / m.nt)
           / sqrt(m.qt::DOUBLE / m.nt
                  - (m.st::DOUBLE / m.nt) * (m.st::DOUBLE / m.nt)) AS zz
  FROM seg s JOIN mu m ON s.user_id = m.user_id
  WHERE m.qt * m.nt > m.st * m.st
)
SELECT user_id,
       string_agg(CASE WHEN zz < -0.6745 THEN 'a'
                       WHEN zz < 0.0 THEN 'b'
                       WHEN zz < 0.6745 THEN 'c'
                       ELSE 'd' END, '' ORDER BY seg) AS sax
FROM z GROUP BY 1
""",
)
def ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic approximation of each user's value series: PAA into
    8 equal-count segments (exact DECIMAL segment means), then
    z-scored against the user's own exact moments and discretized on
    the standard 4-symbol Gaussian breakpoints (±0.6745, 0) into an
    8-char word — the representation under symbolic motif/novelty
    detection at 100 TB (series become fixed-width tokens; similarity
    becomes string equality / edit distance; the dedup and text tiers
    apply directly on top).

    Exactness: segment assignment is integer floor((rn−1)·8/n); PAA
    means and the user μ/σ derive from DECIMAL sums (2-dp values, 4-dp
    squares); the z expression and breakpoint CASE run the identical
    double op sequence in both engines. Users with n < 8 (degenerate
    words) and constant series (σ = 0, decided in exact decimal
    arithmetic — Spark would NaN where DuckDB errors on the rounded-
    negative sqrt operand) are excluded. Plan: one user-keyed window
    exchange feeds the segment aggregate; the per-user moments
    re-aggregate the same cells — no second scan of events."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    base = ev.select(
        "user_id",
        # 19,2 forces DuckDB's int128 multiply path for v*v (width-18
        # products overflow int64 storage at the ×1e5 magnitude
        # envelope) — see agg_corr's cast note.
        F.col("value").cast("decimal(19,2)").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).filter(F.col("n") >= 8)
    seg = base.groupBy(
        "user_id",
        "n",
        F.expr("((rn - 1) * 8L) div n").alias("seg"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("v").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(30,4)")).alias("sq"),
    ).cache()
    mu = seg.groupBy("user_id").agg(
        F.sum("cnt").alias("nt"),
        F.sum("sv").alias("st"),
        F.sum("sq").alias("qt"),
    )
    # constant series (variance exactly 0, decided in EXACT decimal
    # arithmetic so both engines agree) would make sqrt's operand round
    # negative in DuckDB (error) vs NaN in Spark — exclude them
    j = seg.join(mu, "user_id").filter(
        F.col("qt") * F.col("nt") > F.col("st") * F.col("st")
    )
    mean = F.col("st").cast("double") / F.col("nt")
    z = (F.col("sv").cast("double") / F.col("cnt") - mean) / F.sqrt(
        F.col("qt").cast("double") / F.col("nt") - mean * mean
    )
    sym = (
        F.when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    syms = j.select("user_id", "seg", sym.alias("sym"))
    word = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("seg", "sym"))),
            lambda e: e.getField("sym"),
        ),
        "",
    )
    return syms.groupBy("user_id").agg(word.alias("sax"))


_TREE2_ORACLE = """
WITH g AS (
  SELECT n_chars AS v, count(*) AS cnt,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
),
tot AS (SELECT sum(cnt)::BIGINT AS n, sum(pos)::BIGINT AS p FROM g),
cum AS (
  SELECT v, sum(cnt) OVER w AS nl, sum(pos) OVER w AS pl
  FROM g WINDOW w AS (ORDER BY v)
),
root AS (
  SELECT v AS t1
  FROM cum c CROSS JOIN tot t
  WHERE c.nl < t.n
  QUALIFY row_number() OVER (ORDER BY
    round(((c.pl * c.pl + (c.nl - c.pl) * (c.nl - c.pl)) * (t.n - c.nl)
           + ((t.p - c.pl) * (t.p - c.pl)
              + (t.n - c.nl - t.p + c.pl) * (t.n - c.nl - t.p + c.pl))
             * c.nl)::DOUBLE / (c.nl * (t.n - c.nl)), 6) DESC, v) = 1
),
lg AS (
  SELECT CASE WHEN g.v <= r.t1 THEN 'L' ELSE 'R' END AS leaf,
         g.v, g.cnt, g.pos
  FROM g CROSS JOIN root r
),
lt AS (SELECT leaf, sum(cnt)::BIGINT AS n, sum(pos)::BIGINT AS p
       FROM lg GROUP BY 1),
c2 AS (
  SELECT leaf, v, sum(cnt) OVER w AS nl, sum(pos) OVER w AS pl
  FROM lg WINDOW w AS (PARTITION BY leaf ORDER BY v)
),
s2 AS (
  SELECT c.leaf, c.v AS threshold, c.nl, t.n - c.nl AS nr,
         c.pl, t.p - c.pl AS pr,
         round(((c.pl * c.pl + (c.nl - c.pl) * (c.nl - c.pl))
                  * (t.n - c.nl)
                + ((t.p - c.pl) * (t.p - c.pl)
                   + (t.n - c.nl - t.p + c.pl)
                     * (t.n - c.nl - t.p + c.pl))
                  * c.nl)::DOUBLE
               / (c.nl * (t.n - c.nl)), 6) AS purity
  FROM c2 c JOIN lt t USING (leaf)
  WHERE c.nl < t.n
)
SELECT leaf, threshold, nl::BIGINT AS n_left, nr::BIGINT AS n_right,
       pl * 2 > nl AS pred_left, pr * 2 > nr AS pred_right, purity
FROM s2
QUALIFY row_number() OVER (PARTITION BY leaf
                           ORDER BY purity DESC, threshold) = 1
"""


@query("ml_tree_depth2", category="J.sim", oracle=_TREE2_ORACLE)
def ml_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grow ``ml_dtree_stump`` one level: find the root's best Gini
    split, partition the histogram into the two leaves, and find each
    leaf's best split — level-wise tree growth exactly as distributed
    GBDT trainers do it (ALL nodes of a level split from ONE pass over
    the per-node histograms; depth-d training is d such passes, not
    2^d). The root threshold is data-dependent, so it joins back as a
    broadcast 1-row scalar — never a driver-side collect.

    Same integer-ratio purity criterion and 6-dp argmax discipline as
    the stump (see there for the rearrangement proof); per-leaf argmax
    is one row_number over a leaf-partitioned window. Output: 2 rows
    (best L and R child splits). Scale: everything after the first
    histogram aggregate operates on |distinct values| rows."""
    # NULL contract (round-11 NULL-text axis): a threshold split cannot
    # route a NULL feature — non-null feature rows only, mirrored in the
    # oracle (the ml_regression_stump rule on the n_chars feature)
    d = Tables(spark, sf_dir).documents.where(F.col("n_chars").isNotNull())
    g = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).cast("long")
        ).alias("pos"),
    ).cache()  # feeds root search AND leaf re-partition
    tot = g.agg(F.sum("cnt").alias("n"), F.sum("pos").alias("p"))

    def purity_col(nl, pl, n, p):
        nr = n - nl
        pr = p - pl
        ql = nl - pl
        qr = nr - pr
        return F.round(
            ((pl * pl + ql * ql) * nr + (pr * pr + qr * qr) * nl)
            .cast("double") / (nl * nr),
            6,
        )

    wc = Window.orderBy("v")
    cum = g.select(
        "v",
        F.sum("cnt").over(wc).alias("nl"),
        F.sum("pos").over(wc).alias("pl"),
    )
    rootc = cum.crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("n"))
    wroot = Window.orderBy(
        purity_col(
            F.col("nl"), F.col("pl"), F.col("n"), F.col("p")
        ).desc(),
        "v",
    )
    root = (
        rootc.withColumn("rn", F.row_number().over(wroot))
        .filter(F.col("rn") == 1)
        .select(F.col("v").alias("t1"))
    )
    lg = g.crossJoin(F.broadcast(root)).select(
        F.when(F.col("v") <= F.col("t1"), "L").otherwise("R").alias("leaf"),
        "v",
        "cnt",
        "pos",
    )
    lt = lg.groupBy("leaf").agg(
        F.sum("cnt").alias("n"), F.sum("pos").alias("p")
    )
    wl = Window.partitionBy("leaf").orderBy("v")
    c2 = lg.select(
        "leaf",
        "v",
        F.sum("cnt").over(wl).alias("nl"),
        F.sum("pos").over(wl).alias("pl"),
    )
    j = c2.join(F.broadcast(lt), "leaf").filter(F.col("nl") < F.col("n"))
    nl, pl = F.col("nl"), F.col("pl")
    n, p = F.col("n"), F.col("p")
    nr = n - nl
    pr = p - pl
    s2 = j.select(
        "leaf",
        F.col("v").alias("threshold"),
        nl.alias("n_left"),
        nr.alias("n_right"),
        (pl * 2 > nl).alias("pred_left"),
        (pr * 2 > nr).alias("pred_right"),
        purity_col(nl, pl, n, p).alias("purity"),
    )
    wbest = Window.partitionBy("leaf").orderBy(
        F.col("purity").desc(), "threshold"
    )
    return (
        s2.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "ml_regression_stump",
    category="J.sim",
    oracle="""
WITH g AS (
  SELECT l_quantity AS v, count(*) AS cnt,
         sum(l_extendedprice::DECIMAL(18,2)) AS sy
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
),
tot AS (SELECT sum(cnt)::BIGINT AS n, sum(sy) AS s FROM g),
c AS (
  SELECT v, sum(cnt) OVER w AS nl, sum(sy) OVER w AS sl
  FROM g WINDOW w AS (ORDER BY v)
),
s AS (
  -- ::VARCHAR::DOUBLE on the leaf-sum casts (q9 adjudication: DuckDB's
  -- direct decimal->double cast is 1 ulp off past 2^53 unscaled) and
  -- NO 6-dp round: at sf1 the score reaches ~1.7e16, where ulp > 1e-6
  -- makes rounding a mathematical no-op yet DuckDB's
  -- multiply-round-divide implementation drifts 1 ulp off Spark's
  -- exact BigDecimal route (round-13 sf1 find). The operands are
  -- bit-identical across engines, so the unrounded outputs match
  -- exactly at every magnitude.
  SELECT c.v AS threshold, c.nl, t.n - c.nl AS nr,
         c.sl, t.s - c.sl AS sr,
         c.sl::VARCHAR::DOUBLE * c.sl::VARCHAR::DOUBLE / c.nl
               + (t.s - c.sl)::VARCHAR::DOUBLE
                 * (t.s - c.sl)::VARCHAR::DOUBLE / (t.n - c.nl)
           AS score
  FROM c CROSS JOIN tot t
  WHERE c.nl < t.n
)
SELECT threshold, nl::BIGINT AS n_left, nr::BIGINT AS n_right,
       sl::VARCHAR::DOUBLE / nl AS mean_left,
       sr::VARCHAR::DOUBLE / nr AS mean_right,
       score
FROM s
QUALIFY row_number() OVER (ORDER BY score DESC, threshold) = 1
""",
)
def ml_regression_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGRESSION-tree stump (price ~ quantity): the best
    variance-reduction split, the squared-loss sibling of
    ``ml_dtree_stump``'s Gini split and the per-round weak learner of
    gradient boosting (each GBDT round fits exactly this to the
    residuals). Minimizing SSE_L + SSE_R ≡ maximizing
    S_L²/n_L + S_R²/n_R (total Σy² is split-invariant, so it drops out
    of the argmax — no squared-target moments needed at all).

    The leaf sums are EXACT DECIMAL(18,2); the score is the identical
    double op sequence both engines (correctly-rounded casts of exact
    sums — UNROUNDED, since rounding identical doubles only adds
    engine-divergence risk; round-13 sf1 find), ties to the smaller
    threshold. Same histogram-then-running-window
    shape as the classifier stump: the feature has 50 distinct values,
    so everything after the first aggregate is ~50 rows. NULL contract
    (round-11 axis): a threshold split cannot route a NULL feature —
    training rows require a non-null feature, mirrored in the oracle."""
    li = Tables(spark, sf_dir).lineitem.where(
        F.col("l_quantity").isNotNull()
    )
    g = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sy"),
    ).cache()  # feeds totals AND the cumulative window (§13 dedup rule)
    tot = g.agg(F.sum("cnt").alias("n"), F.sum("sy").alias("s"))
    wc = Window.orderBy("v")
    c = g.select(
        "v",
        F.sum("cnt").over(wc).alias("nl"),
        F.sum("sy").over(wc).alias("sl"),
    )
    j = c.crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("n"))
    nl, sl = F.col("nl"), F.col("sl")
    nr = F.col("n") - nl
    sr = F.col("s") - sl
    # unrounded — see the oracle comment: identical correctly-rounded
    # casts + identical op order make these bit-exact across engines;
    # round(x, 6) at score magnitudes (~1.7e16 at sf1) is where the
    # engines' rounding implementations drift a ulp apart
    score = sl.cast("double") * sl / nl + sr.cast("double") * sr / nr
    s = j.select(
        F.col("v").alias("threshold"),
        nl.alias("n_left"),
        nr.alias("n_right"),
        (sl.cast("double") / nl).alias("mean_left"),
        (sr.cast("double") / nr).alias("mean_right"),
        score.alias("score"),
    )
    wbest = Window.orderBy(F.col("score").desc(), "threshold")
    return (
        s.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "ml_als_halfstep",
    category="J.sim",
    oracle="""
WITH inter AS (
  SELECT o.o_custkey AS c, l.l_partkey % 7 - 3 AS f2,
         l.l_quantity::DECIMAL(18,2) AS r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
m AS (
  SELECT c, count(*) AS n,
         sum(f2)::BIGINT AS s2,
         sum(f2 * f2)::BIGINT AS q22,
         sum(r)::DOUBLE AS b1,
         sum(f2 * r)::DOUBLE AS b2
  FROM inter GROUP BY 1
)
SELECT c AS custkey, n::BIGINT AS n_items,
       round((b1 * (q22 + 1) - s2 * b2)
             / ((n + 1)::DOUBLE * (q22 + 1) - s2::DOUBLE * s2), 6) AS w1,
       round(((n + 1) * b2 - s2 * b1)
             / ((n + 1)::DOUBLE * (q22 + 1) - s2::DOUBLE * s2), 6) AS w2
FROM m
""",
)
def ml_als_halfstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS HALF-STEP of rank-2 matrix factorization over the
    (customer, part, quantity) interaction matrix — the canonical
    distributed recommender trainer (Spark MLlib's ALS), reduced to its
    engine shape: with item factors FIXED, every user's factor solve is
    an independent ridge system assembled from per-user partial sums —
    one groupBy, then O(rank²) arithmetic per user. Full ALS alternates
    this with the item-side mirror.

    Made exactly replayable by pinning the item factors to INTEGERS
    (f = [1, partkey mod 7 − 3] — the deterministic-init discipline of
    ml_kmeans/ml_logreg_step): the Gram matrix is then integer sums,
    the RHS is exact 2-dp decimal sums, λ = 1 on the diagonal, and the
    2×2 Cramer solve (det = (n+1)(q22+1) − s2²) is one identical double
    op sequence in both engines — ml_ridge_normal's pattern with a
    per-user GROUP BY in front.

    Plan: one equi-join (orderkey), one partial-agg shuffle on
    custkey; rank² = 4 moments per user regardless of interaction
    count — the reduction that makes ALS scale."""
    t = Tables(spark, sf_dir)
    inter = t.lineitem.join(
        t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey
    ).select(
        F.col("o_custkey").alias("c"),
        (F.col("l_partkey") % 7 - 3).alias("f2"),
        F.col("l_quantity").cast("decimal(18,2)").alias("r"),
    )
    m = inter.groupBy("c").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("f2").alias("s2"),
        F.sum(F.col("f2") * F.col("f2")).alias("q22"),
        F.sum("r").cast("double").alias("b1"),
        F.sum(F.col("f2") * F.col("r")).cast("double").alias("b2"),
    )
    n, s2, q22 = F.col("n"), F.col("s2"), F.col("q22")
    b1, b2 = F.col("b1"), F.col("b2")
    det = (n + 1).cast("double") * (q22 + 1) - s2.cast("double") * s2
    return m.select(
        F.col("c").alias("custkey"),
        n.alias("n_items"),
        F.round((b1 * (q22 + 1) - s2 * b2) / det, 6).alias("w1"),
        F.round(((n + 1) * b2 - s2 * b1) / det, 6).alias("w2"),
    )


_MFSTUMP_ORACLE = """
WITH feat AS (
  SELECT 'n_chars' AS feature, n_chars AS v,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE n_chars IS NOT NULL
  UNION ALL
  SELECT 'n_tokens' AS feature, len(string_split(text, ' ')) AS v,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT feature, v, count(*) AS cnt, sum(y) AS pos
  FROM feat GROUP BY 1, 2
),
tot AS (
  SELECT feature, sum(cnt)::BIGINT AS n, sum(pos)::BIGINT AS p
  FROM g GROUP BY 1
),
cum AS (
  SELECT feature, v, sum(cnt) OVER w AS nl, sum(pos) OVER w AS pl
  FROM g WINDOW w AS (PARTITION BY feature ORDER BY v)
),
s AS (
  SELECT c.feature, c.v AS threshold, c.nl, t.n - c.nl AS nr,
         c.pl, t.p - c.pl AS pr,
         round(((c.pl * c.pl + (c.nl - c.pl) * (c.nl - c.pl))
                  * (t.n - c.nl)
                + ((t.p - c.pl) * (t.p - c.pl)
                   + (t.n - c.nl - t.p + c.pl)
                     * (t.n - c.nl - t.p + c.pl))
                  * c.nl)::DOUBLE
               / (c.nl * (t.n - c.nl)), 6) AS purity
  FROM cum c JOIN tot t USING (feature)
  WHERE c.nl < t.n
)
SELECT feature, threshold, nl::BIGINT AS n_left, nr::BIGINT AS n_right,
       purity
FROM s
QUALIFY row_number() OVER (ORDER BY purity DESC, feature, threshold) = 1
"""


@query("ml_dtree_multifeature", category="J.sim", oracle=_MFSTUMP_ORACLE)
def ml_dtree_multifeature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best Gini split across MULTIPLE features in ONE pass — the real
    inner loop of distributed tree trainers (every feature's candidate
    splits are scored from per-feature histograms built in a single
    shuffle; the argmax then spans features). Features here: doc length
    and token count; extending the feature set is one more UNION arm —
    cost stays one scan per feature arm + one (feature,value)-keyed
    aggregate, never a per-feature pass over candidates.

    Same exact integer-ratio purity criterion as ``ml_dtree_stump``
    (see the rearrangement proof there); the cumulative window and the
    final argmax are feature-partition-aware; ties break (feature,
    threshold)-lexicographically. Scale note: the unpivoted layout is
    exactly how XGBoost/LightGBM shard split-finding — (feature, bin)
    is the aggregation key, so feature parallelism IS partition
    parallelism."""
    from ..functions.tokens import tokens

    # NULL contract: each feature arm keeps only rows where ITS feature
    # is non-null (ml_regression_stump rule), mirrored per-arm in the
    # oracle's UNION
    d = Tables(spark, sf_dir).documents
    y = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).cast("long").alias("y")
    feat = d.where(F.col("n_chars").isNotNull()).select(
        F.lit("n_chars").alias("feature"), F.col("n_chars").alias("v"), y
    ).unionAll(
        d.where(F.col("text").isNotNull()).select(
            F.lit("n_tokens").alias("feature"),
            F.size(tokens()).cast("long").alias("v"),
            y,
        )
    )
    g = feat.groupBy("feature", "v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    ).cache()  # feeds per-feature totals AND the cumulative window
    tot = g.groupBy("feature").agg(
        F.sum("cnt").alias("n"), F.sum("pos").alias("p")
    )
    wc = Window.partitionBy("feature").orderBy("v")
    cum = g.select(
        "feature",
        "v",
        F.sum("cnt").over(wc).alias("nl"),
        F.sum("pos").over(wc).alias("pl"),
    )
    j = cum.join(F.broadcast(tot), "feature").filter(
        F.col("nl") < F.col("n")
    )
    nl, pl = F.col("nl"), F.col("pl")
    n, p = F.col("n"), F.col("p")
    nr = n - nl
    pr = p - pl
    ql = nl - pl
    qr = nr - pr
    purity = F.round(
        ((pl * pl + ql * ql) * nr + (pr * pr + qr * qr) * nl)
        .cast("double") / (nl * nr),
        6,
    )
    s = j.select(
        "feature",
        F.col("v").alias("threshold"),
        nl.alias("n_left"),
        nr.alias("n_right"),
        purity.alias("purity"),
    )
    wbest = Window.orderBy(F.col("purity").desc(), "feature", "threshold")
    return (
        s.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "stat_cramers_v",
    category="D.agg",
    oracle="""
WITH o AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
r AS (SELECT source, sum(c) AS rs FROM o GROUP BY 1),
col AS (SELECT lang, sum(c) AS cs FROM o GROUP BY 1),
tot AS (SELECT sum(c)::BIGINT AS n FROM o),
cells AS (
  SELECT o.source, o.lang,
         (o.c::DOUBLE - r.rs::DOUBLE * col.cs / tot.n)
         * (o.c::DOUBLE - r.rs::DOUBLE * col.cs / tot.n)
         / (r.rs::DOUBLE * col.cs / tot.n) AS term
  FROM o JOIN r USING (source) JOIN col USING (lang) CROSS JOIN tot
),
chi AS (
  SELECT round(list_reduce(list_prepend(0.0,
           list(term ORDER BY source, lang)), (s, x) -> s + x), 6) AS chi2
  FROM cells
),
dims AS (
  SELECT (SELECT count(*) FROM r)::BIGINT AS nr,
         (SELECT count(*) FROM col)::BIGINT AS nc,
         (SELECT n FROM tot) AS n
)
SELECT chi.chi2, dims.n, dims.nr, dims.nc,
       round(sqrt(chi.chi2
                  / (dims.n * least(dims.nr - 1, dims.nc - 1))), 6) AS v
FROM chi CROSS JOIN dims
""",
)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the [0,1]-normalized EFFECT SIZE for the
    source × language association that ``stat_chi2`` only scores as a
    raw statistic: V = √(χ²/(n·min(r−1, c−1))). A χ² that looks huge on
    a 60k-doc corpus can be a trivial association; V says how strong it
    actually is, which is what a curation dashboard thresholds on.
    Same exact-marginals + (source, lang)-ordered fold as stat_chi2;
    the normalization uses the ROUNDED 6-dp χ² in both engines so the
    final division sees identical operands. One shuffle (the
    contingency table), everything else re-aggregates the cached
    cells."""
    d = Tables(spark, sf_dir).documents
    o = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    ).cache()
    r = o.groupBy("source").agg(F.sum("c").alias("rs"))
    c = o.groupBy("lang").agg(F.sum("c").alias("cs"))
    tot = o.agg(F.sum("c").alias("n"))
    e = F.col("rs").cast("double") * F.col("cs") / F.col("n")
    cells = (
        o.join(F.broadcast(r), "source")
        .join(F.broadcast(c), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            (
                (F.col("c").cast("double") - e)
                * (F.col("c").cast("double") - e)
                / e
            ).alias("term"),
        )
    )
    fold = F.aggregate(
        F.sort_array(
            F.collect_list(F.struct("source", "lang", "term"))
        ),
        F.lit(0.0),
        lambda s, x: s + x.getField("term"),
    )
    chi = cells.agg(F.round(fold, 6).alias("chi2"))
    dims = (
        r.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("nc")))
        .crossJoin(tot)
    )
    j = chi.crossJoin(F.broadcast(dims))
    return j.select(
        "chi2",
        "n",
        "nr",
        "nc",
        # try_divide: a single-category margin (nr = 1 or nc = 1)
        # zeroes min(r-1, c-1) — ANSI `/` throws, DuckDB yields NULL
        # (constant-fixture audit); sqrt(NULL) is NULL on both.
        F.round(
            F.sqrt(
                F.try_divide(
                    F.col("chi2"),
                    F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1),
                )
            ),
            6,
        ).alias("v"),
    )


_TWO_PI = "6.283185307179586"

_FOURIER_ORACLE = f"""
WITH b AS (
  SELECT event_type, value::DECIMAL(18,2) AS v,
         round(cos({_TWO_PI} * ((epoch_us(ts::TIMESTAMP) // 1000000)
                                % 86400) / 86400), 6)::DECIMAL(12,6) AS cq,
         round(sin({_TWO_PI} * ((epoch_us(ts::TIMESTAMP) // 1000000)
                                % 86400) / 86400), 6)::DECIMAL(12,6) AS sq
  FROM events
),
m AS (
  SELECT event_type, count(*) AS n,
         sum(v * cq) AS a1, sum(v * sq) AS b1
  FROM b GROUP BY 1
)
SELECT event_type, n::BIGINT AS n,
       round(a1::DOUBLE, 6) AS a1, round(b1::DOUBLE, 6) AS b1,
       round(sqrt(a1::DOUBLE * a1 + b1::DOUBLE * b1), 6) AS amplitude,
       round(atan2(b1::DOUBLE, a1::DOUBLE), 6) AS phase
FROM m
"""


@query("ts_fourier_daily", category="I.stream", oracle=_FOURIER_ORACLE)
def ts_fourier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First Fourier coefficient of the DAILY cycle per event type —
    a1 = Σ v·cos(2π·t/86400), b1 = Σ v·sin(·) over the second-of-day
    phase — the spectral twin of ``ts_seasonality``'s hour-profile:
    amplitude says HOW diurnal a signal is, phase says WHEN it peaks,
    in two numbers instead of 24 buckets.

    The float trick that keeps this a pure mergeable aggregate at
    100 TB: the transcendental basis values are QUANTIZED to 6 dp and
    cast to DECIMAL (the "transcendentals round to 6 dp" rule), so
    v·cos products are exact decimals and the per-type sums are
    fold-order-free partial aggregates — no ordered fold, no
    collect_list, just map-side combine like any sum. Phase angles come
    from integer second-of-day arithmetic (epoch_us // 1e6 % 86400 —
    the epoch-rounding trap's safe form); cos/sin/atan2 run on
    identical doubles in both engines (scalar_trig precedent). ONE
    shuffle."""
    ev = Tables(spark, sf_dir).events
    sod = F.unix_seconds(F.col("ts")) % 86400
    theta = F.expr(f"{_TWO_PI}") * sod / 86400
    b = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.round(F.cos(theta), 6).cast("decimal(12,6)").alias("cq"),
        F.round(F.sin(theta), 6).cast("decimal(12,6)").alias("sq"),
    )
    m = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v") * F.col("cq")).alias("a1"),
        F.sum(F.col("v") * F.col("sq")).alias("b1"),
    )
    a1d = F.col("a1").cast("double")
    b1d = F.col("b1").cast("double")
    return m.select(
        "event_type",
        F.col("n").alias("n"),
        F.round(a1d, 6).alias("a1"),
        F.round(b1d, 6).alias("b1"),
        F.round(F.sqrt(a1d * F.col("a1") + b1d * F.col("b1")), 6).alias(
            "amplitude"
        ),
        F.round(F.atan2(b1d, a1d), 6).alias("phase"),
    )

_GBDT2_ORACLE = """
WITH g AS (
  SELECT l_quantity AS v, count(*) AS cnt,
         sum(l_extendedprice::DECIMAL(18,2)) AS sy
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
),
tot AS (SELECT sum(cnt)::BIGINT AS n, sum(sy) AS s FROM g),
c AS (
  SELECT v, sum(cnt) OVER w AS nl, sum(sy) OVER w AS sl
  FROM g WINDOW w AS (ORDER BY v)
),
root AS (
  SELECT v AS t1
  FROM c CROSS JOIN tot t
  WHERE c.nl < t.n
  QUALIFY row_number() OVER (ORDER BY
    round(c.sl::DOUBLE * c.sl / c.nl
          + (t.s - c.sl)::DOUBLE * (t.s - c.sl) / (t.n - c.nl), 6)
      DESC, v) = 1
),
leafmeans AS (
  SELECT r.t1,
         round((SELECT sum(sy) FROM g WHERE v <= r.t1)::DOUBLE
               / (SELECT sum(cnt) FROM g WHERE v <= r.t1),
               6)::DECIMAL(18,6) AS ml,
         round((SELECT sum(sy) FROM g WHERE v > r.t1)::DOUBLE
               / (SELECT sum(cnt) FROM g WHERE v > r.t1),
               6)::DECIMAL(18,6) AS mr
  FROM root r
),
rg AS (
  SELECT g.v, g.cnt,
         g.sy::DECIMAL(28,6)
           - g.cnt * (CASE WHEN g.v <= lm.t1 THEN lm.ml ELSE lm.mr END)
           AS rs
  FROM g CROSS JOIN leafmeans lm
),
rtot AS (SELECT sum(cnt)::BIGINT AS n, sum(rs) AS s FROM rg),
rc AS (
  SELECT v, sum(cnt) OVER w AS nl, sum(rs) OVER w AS sl
  FROM rg WINDOW w AS (ORDER BY v)
),
s2 AS (
  SELECT rc.v AS threshold2, rc.nl, t.n - rc.nl AS nr,
         round(rc.sl::DOUBLE * rc.sl / rc.nl
               + (t.s - rc.sl)::DOUBLE * (t.s - rc.sl) / (t.n - rc.nl), 6)
           AS score
  FROM rc CROSS JOIN rtot t
  WHERE rc.nl < t.n
)
SELECT (SELECT t1 FROM root) AS threshold1, threshold2,
       nl::BIGINT AS n_left, nr::BIGINT AS n_right, score
FROM s2
QUALIFY row_number() OVER (ORDER BY score DESC, threshold2) = 1
"""


@query("ml_gbdt_round2", category="J.sim", oracle=_GBDT2_ORACLE)
def ml_gbdt_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND round of gradient boosting with squared loss: fit
    ``ml_regression_stump``, subtract its leaf means, and find the best
    variance-reduction split of the RESIDUALS — demonstrating the key
    scale property of histogram-based GBDT: round 2 never rescans the
    data. Residual sums per feature bucket derive algebraically from
    the round-1 histogram (rs = sy − cnt·leafmean), so every boosting
    round on a feature costs O(|histogram|) after the single initial
    aggregate.

    Float discipline: leaf means are rounded to 6 dp and CAST TO
    DECIMAL(18,6) at the hand-off (recovering the exact 6-dp rational
    in both engines — the ml_kmeans pinning move), which makes the
    residual bucket sums, and therefore their running window sums,
    EXACT decimals — no float fold anywhere between the two argmaxes;
    both scores round at 6 dp. Plan: ONE scan total; both rounds are
    windows over the cached ~50-row histogram. NULL contract: non-null
    feature rows only (ml_regression_stump note)."""
    li = Tables(spark, sf_dir).lineitem.where(
        F.col("l_quantity").isNotNull()
    )
    g = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sy"),
    ).cache()  # round 1 AND round 2 both run off this histogram
    tot = g.agg(F.sum("cnt").alias("n"), F.sum("sy").alias("s"))
    wc = Window.orderBy("v")
    c = g.select(
        "v",
        F.sum("cnt").over(wc).alias("nl"),
        F.sum("sy").over(wc).alias("sl"),
    )
    jc = c.crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("n"))
    score1 = F.round(
        F.col("sl").cast("double") * F.col("sl") / F.col("nl")
        + (F.col("s") - F.col("sl")).cast("double")
        * (F.col("s") - F.col("sl"))
        / (F.col("n") - F.col("nl")),
        6,
    )
    wroot = Window.orderBy(score1.desc(), "v")
    root = (
        jc.withColumn("rn", F.row_number().over(wroot))
        .filter(F.col("rn") == 1)
        .select(F.col("v").alias("t1"))
    )
    gl = g.crossJoin(F.broadcast(root))
    lmeans = gl.groupBy("t1").agg(
        F.round(
            F.sum(F.when(F.col("v") <= F.col("t1"), F.col("sy"))).cast(
                "double"
            )
            / F.sum(F.when(F.col("v") <= F.col("t1"), F.col("cnt"))),
            6,
        ).cast("decimal(18,6)").alias("ml"),
        F.round(
            F.sum(F.when(F.col("v") > F.col("t1"), F.col("sy"))).cast(
                "double"
            )
            / F.sum(F.when(F.col("v") > F.col("t1"), F.col("cnt"))),
            6,
        ).cast("decimal(18,6)").alias("mr"),
    )
    rg = gl.join(F.broadcast(lmeans), "t1").select(
        "v",
        "cnt",
        (
            F.col("sy").cast("decimal(28,6)")
            - F.col("cnt")
            * F.when(F.col("v") <= F.col("t1"), F.col("ml")).otherwise(
                F.col("mr")
            )
        ).alias("rs"),
    )
    rtot = rg.agg(F.sum("cnt").alias("n"), F.sum("rs").alias("s"))
    rc = rg.select(
        "v",
        F.sum("cnt").over(wc).alias("nl"),
        F.sum("rs").over(wc).alias("sl"),
    )
    j2 = rc.crossJoin(F.broadcast(rtot)).filter(F.col("nl") < F.col("n"))
    nl, sl = F.col("nl"), F.col("sl")
    n, s = F.col("n"), F.col("s")
    score2 = F.round(
        sl.cast("double") * sl / nl
        + (s - sl).cast("double") * (s - sl) / (n - nl),
        6,
    )
    s2 = j2.select(
        F.col("v").alias("threshold2"),
        nl.alias("n_left"),
        (n - nl).alias("n_right"),
        score2.alias("score"),
    )
    wbest = Window.orderBy(F.col("score").desc(), "threshold2")
    return (
        s2.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .crossJoin(
            F.broadcast(root.select(F.col("t1").alias("threshold1")))
        )
        .select("threshold1", "threshold2", "n_left", "n_right", "score")
    )


@query(
    "stat_dispersion",
    category="D.agg",
    oracle="""
WITH uc AS (
  SELECT event_type, user_id, count(*) AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, count(*) AS n, sum(c)::BIGINT AS s,
         sum(c * c)::BIGINT AS q
  FROM uc GROUP BY 1
)
SELECT event_type, n::BIGINT AS n_users,
       round(s::DOUBLE / n, 6) AS mean_events,
       round(((q::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n))
              * n / (n - 1)) / (s::DOUBLE / n), 6) AS dispersion
FROM m
""",
)
def stat_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance/mean of per-user event counts,
    over users active in the type) — the Poisson-arrival screen: D ≈ 1
    means memoryless arrivals, D ≫ 1 means bursty/clumped users (the
    signal that decides whether the skew mitigations — salting,
    AQE skew-join — will actually be needed on user-keyed shuffles).
    Completes the arrival-process toolkit next to stat_runs_test
    (ordering randomness) and ts_cusum (level shifts).

    Two nested exact-integer aggregates (user counts, then count
    moments), sample-variance form, one division chain run identically
    in both engines — exact at 6 dp. Two shuffles, both shrinking."""
    ev = Tables(spark, sf_dir).events
    uc = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    m = uc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    n = F.col("n")
    mean = F.col("s").cast("double") / n
    # try_divide: a 1-user type on a shrunken fixture zeroes the sample-
    # variance denominator; DuckDB's x/0 → NULL dispersion is mirrored
    var = F.try_divide((F.col("q").cast("double") / n - mean * mean) * n, n - 1)
    return m.select(
        "event_type",
        n.alias("n_users"),
        F.round(mean, 6).alias("mean_events"),
        F.round(var / mean, 6).alias("dispersion"),
    )


_VITERBI_ORACLE = """
WITH RECURSIVE med AS (
  SELECT user_id, median(value) AS med FROM events GROUP BY 1
),
series AS (
  SELECT e.user_id, e.value > m.med AS o,
         row_number() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS i
  FROM events e JOIN med m USING (user_id)
),
dp AS (
  SELECT user_id, i,
         CASE WHEN o THEN 1 ELSE 0 END AS c0,
         CASE WHEN o THEN 0 ELSE 1 END AS c1
  FROM series WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.i,
         least(h.c0, h.c1 + 2) + (CASE WHEN s.o THEN 1 ELSE 0 END),
         least(h.c1, h.c0 + 2) + (CASE WHEN s.o THEN 0 ELSE 1 END)
  FROM dp h JOIN series s ON s.user_id = h.user_id AND s.i = h.i + 1
),
last AS (
  SELECT user_id, c0, c1
  FROM dp QUALIFY row_number() OVER (PARTITION BY user_id
                                     ORDER BY i DESC) = 1
)
SELECT l.user_id,
       (SELECT max(i) FROM series s WHERE s.user_id = l.user_id)::BIGINT
         AS n,
       least(l.c0, l.c1)::BIGINT AS min_cost,
       l.c1 < l.c0 AS final_high
FROM last l
"""


@query("ts_viterbi_regime", category="E.window", oracle=_VITERBI_ORACLE)
def ts_viterbi_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-state VITERBI regime decoding per user series — the dynamic
    program at the core of HMM segmentation, run as an ordered fold:
    observations are "above the user's own median" bits, state k
    expects bit k, mismatches cost 1, switching regimes costs 2
    (τ > 1 ⇒ the decode smooths over isolated flips — the
    burst/quiet-regime segmenter). The recurrence
    c_k' = min(c_k, c_{1−k} + τ) + e_k(o) carries BOTH frontier costs,
    so the whole decode is O(n) with O(1) state — exactly the shape
    ``applyInPandasWithState`` would stream.

    EVERYTHING is integer arithmetic — no rounding anywhere, the
    only exact-by-construction DP in the registry (ts_cusum/ts_holt
    are float folds). The fold is a (ts, event_id)-ordered
    {c0, c1} STRUCT accumulator — fine in Spark; the oracle must use a
    recursive CTE (DuckDB list_reduce corrupts multi-field
    accumulators, the ts_holt trap). The median threshold matches via
    the stat_runs_test precedent (midpoint interpolation agrees).
    ONE user-keyed shuffle computing the ordered bit list; ties on the
    final comparison resolve to the low regime in both engines."""
    ev = Tables(spark, sf_dir).events
    med = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    obs = ev.join(F.broadcast(med), "user_id").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value") > F.col("med")).alias("o"),
    )
    g = obs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "o"))),
            lambda e: e.getField("o"),
        ).alias("bits"),
    )
    e0 = lambda o: F.when(o, 1).otherwise(0)  # noqa: E731
    e1 = lambda o: F.when(o, 0).otherwise(1)  # noqa: E731
    init = F.struct(
        e0(F.element_at(F.col("bits"), 1)).alias("c0"),
        e1(F.element_at(F.col("bits"), 1)).alias("c1"),
    )
    dp = F.aggregate(
        F.slice(F.col("bits"), 2, F.greatest(F.col("n") - 1, F.lit(0))),
        init,
        lambda acc, o: F.struct(
            (
                F.least(acc.getField("c0"), acc.getField("c1") + 2) + e0(o)
            ).alias("c0"),
            (
                F.least(acc.getField("c1"), acc.getField("c0") + 2) + e1(o)
            ).alias("c1"),
        ),
    )
    d = g.select("user_id", "n", dp.alias("dp"))
    c0 = F.col("dp").getField("c0")
    c1 = F.col("dp").getField("c1")
    return d.select(
        "user_id",
        "n",
        F.least(c0, c1).cast("long").alias("min_cost"),
        (c1 < c0).alias("final_high"),
    )


# --------------------------------------------------------------------------
# Round-6 batch 13: rank statistics, robust regression, resampling,
# probability calibration, and classical seasonal decomposition.
# --------------------------------------------------------------------------


@query(
    "stat_kendall",
    category="D.agg",
    oracle="""
WITH d AS (
  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
         sum(l_quantity::DECIMAL(18,2)) AS x,
         sum(l_extendedprice::DECIMAL(18,2)) AS y
  FROM lineitem GROUP BY 1, 2
),
p AS (
  SELECT a.flag,
         count(*) AS n0,
         sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS d,
         sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS tx,
         sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS ty
  FROM d a JOIN d b ON a.flag = b.flag AND a.day < b.day
  GROUP BY 1
),
n AS (SELECT flag, count(*) AS nd FROM d GROUP BY 1)
SELECT p.flag AS l_returnflag, n.nd::BIGINT AS n_days,
       p.n0::BIGINT AS n_pairs, p.c::BIGINT AS concordant,
       p.d::BIGINT AS discordant,
       round((p.c - p.d) / sqrt((p.n0 - p.tx) * 1.0 * (p.n0 - p.ty)), 6)
         AS tau_b
FROM p JOIN n ON p.flag = n.flag
""",
)
def stat_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily shipped quantity and
    daily revenue, per return flag — the third rank statistic after
    Spearman rho and Mann-Whitney U, and the one robust to BOTH
    monotone transforms and heavy ties. tau is O(n²) pairwise, which is
    exactly why it runs on the DAILY AGGREGATE, never the raw rows: the
    series length is bounded by the calendar (~2.5k days regardless of
    SF), so the pair join is ~3M rows per group at ANY data scale — the
    raw lineitem scan is one partial-aggregated shuffle, and 100 TB only
    makes the daily sums heavier map-side, not the pair stage. All
    concordance comparisons are on EXACT DECIMAL(18,2) daily sums
    (money discipline, ARCHITECTURE §4.2), so C/D/tie counts are exact
    integers; the only float op is the final tau division, rounded 6 dp
    with the operand order mirrored in the oracle.

    tau_b = (C − D) / √((n₀ − Tx)(n₀ − Ty)), pair-count convention for
    the tie terms (pairs tied on both x and y count in both)."""
    li = Tables(spark, sf_dir).lineitem
    d = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.to_date("l_shipdate").alias("day"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("x"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("y"),
        )
        .cache()  # feeds both self-join sides AND the per-flag day count
    )
    a, b = d.alias("a"), d.alias("b")
    ax, ay = F.col("a.x"), F.col("a.y")
    bx, by = F.col("b.x"), F.col("b.y")
    one = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    p = (
        a.join(
            b,
            (F.col("a.flag") == F.col("b.flag"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.flag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("n0"),
            one(((ax < bx) & (ay < by)) | ((ax > bx) & (ay > by))).alias("c"),
            one(((ax < bx) & (ay > by)) | ((ax > bx) & (ay < by))).alias("d"),
            one(ax == bx).alias("tx"),
            one(ay == by).alias("ty"),
        )
    )
    n = d.groupBy("flag").agg(F.count(F.lit(1)).alias("nd"))
    n0, c_, d_ = F.col("n0"), F.col("c"), F.col("d")
    tx, ty = F.col("tx"), F.col("ty")
    return p.join(F.broadcast(n), "flag").select(
        F.col("flag").alias("l_returnflag"),
        F.col("nd").cast("long").alias("n_days"),
        n0.cast("long").alias("n_pairs"),
        c_.cast("long").alias("concordant"),
        d_.cast("long").alias("discordant"),
        # try_divide: all-tied x (or y) pairs drive the root to 0.0 —
        # ANSI `/` throws, DuckDB yields NULL (property-test find)
        F.round(
            F.try_divide(
                c_ - d_, F.sqrt((n0 - tx) * F.lit(1.0) * (n0 - ty))
            ),
            6,
        ).alias("tau_b"),
    )


@query(
    "stat_theilsen",
    category="D.agg",
    oracle="""
WITH d AS (
  SELECT l_returnflag AS flag,
         (CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS t,
         sum(l_extendedprice::DECIMAL(18,2)) AS y
  FROM lineitem GROUP BY 1, 2
),
s AS (
  SELECT a.flag, (b.y - a.y)::DOUBLE / (b.t - a.t) AS slope
  FROM d a JOIN d b ON a.flag = b.flag AND a.t < b.t
),
r AS (
  SELECT flag, slope,
         row_number() OVER (PARTITION BY flag ORDER BY slope) AS rn,
         count(*) OVER (PARTITION BY flag) AS n
  FROM s
)
SELECT flag AS l_returnflag,
       max(n)::BIGINT AS n_pairs,
       round(sum(slope) / count(*), 6) AS sen_slope
FROM r
WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
GROUP BY 1
""",
)
def stat_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the MEDIAN of all pairwise slopes of the
    per-flag daily-revenue series — the estimator that shrugs off the
    ~29% outlier contamination that would wreck OLS (stat_linreg's
    complement). Same boundedness argument as stat_kendall: pairs are
    over the CALENDAR-bounded daily aggregate (~3M slopes per flag at
    every SF), so the O(n²) stage never sees raw rows and survives a
    100× scale-up untouched.

    Exactness: day indices are integers, daily sums are exact decimals,
    so each slope is ONE double division of identical operands on both
    engines — identical doubles. The median is then selected MANUALLY
    (row_number over the slope sort; average the two middle rows for
    even n) rather than via percentile/quantile_cont, because the two
    engines' interpolation FORMULAS (a+(b−a)f vs af'+bf) differ in the
    last ulp even on identical inputs. Ties in slope are harmless: tied
    rows carry equal values, so whichever gets rn=k yields the same
    selected value. sum()/count over ≤2 doubles is commutative-safe."""
    li = Tables(spark, sf_dir).lineitem
    d = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.datediff(
                F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
            ).alias("t"),
        )
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("y"))
        .cache()  # both sides of the pair join
    )
    a, b = d.alias("a"), d.alias("b")
    s = a.join(
        b,
        (F.col("a.flag") == F.col("b.flag")) & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.flag").alias("flag"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.t") - F.col("a.t"))
        ).alias("slope"),
    )
    # Exact median WITHOUT the 3-partition full sort a per-flag
    # row_number window would force (FULLBENCH flagged it at 7 s): the
    # distributed rank-selection pattern. Phase 1: histogram the slopes
    # into ~width-1024 buckets (map-side partial agg — the 9.4M slope
    # rows never shuffle). Phase 2: a tiny cumulative window over the
    # histogram locates the bucket holding each middle rank. Phase 3:
    # only THAT bucket's few hundred rows are ranked. Same selected
    # values, so the oracle (full row_number) is untouched.
    s = s.withColumn(
        "bkt", F.floor(F.col("slope") / 1024.0).cast("long")
    ).cache()  # feeds the histogram AND the candidate filter
    # the histogram feeds tot, hc AND two broadcast subtrees (pick,
    # pick-buckets) — cache the 40k-row aggregate or the 9.4M-row scan
    # underneath it re-runs once per consumer (ReuseExchange does not
    # collapse duplicated logical subtrees)
    h = s.groupBy("flag", "bkt").agg(F.count(F.lit(1)).alias("c")).cache()
    wb = Window.partitionBy("flag").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hc = h.select(
        "flag", "bkt", "c", F.sum("c").over(wb).alias("cum")
    ).withColumn("prev", F.col("cum") - F.col("c"))
    tot = h.groupBy("flag").agg(F.sum("c").alias("n"))
    ranks = tot.select(
        "flag",
        "n",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("n") + 1) / 2),
                    F.floor((F.col("n") + 2) / 2),
                )
            )
        ).alias("k"),
    )
    pick = (
        hc.join(ranks, "flag")
        .where((F.col("prev") < F.col("k")) & (F.col("k") <= F.col("cum")))
        .select("flag", "bkt", "k", "prev", "n")
    )
    cand = s.join(
        F.broadcast(pick.select("flag", "bkt").distinct()), ["flag", "bkt"]
    )
    wr = Window.partitionBy("flag", "bkt").orderBy("slope")
    sel = (
        cand.select(
            "flag", "bkt", "slope", F.row_number().over(wr).alias("rn")
        )
        .join(F.broadcast(pick), ["flag", "bkt"])
        .where(F.col("rn") == F.col("k") - F.col("prev"))
    )
    return sel.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.round(F.sum("slope") / F.count(F.lit(1)), 6).alias("sen_slope"),
    )


#: Poisson(1) CDF breakpoints (k = 0..9), written as Python float reprs so
#: the IDENTICAL shortest-round-trip literals are embedded in the Spark
#: expression and the DuckDB oracle — both parsers yield the same double,
#: so the weight ladder is engine-exact (the _lsh_oracle precedent).
_POISSON1_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
    "0.999998874797402",
    "0.9999998885745216",
)

_BOOT_W_SQL = " + ".join(
    f"(CASE WHEN u >= {c} THEN 1 ELSE 0 END)" for c in _POISSON1_CDF
)

_BOOT_ORACLE = f"""
WITH reps AS (SELECT unnest(range(32)) AS rep),
h AS (
  SELECT l_returnflag AS flag, rep,
         l_extendedprice::DECIMAL(18,2) AS price,
         ('0x' || substr(md5('boot:' || l_orderkey || '-' || l_linenumber
                             || ':' || rep), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM lineitem CROSS JOIN reps
),
g AS (
  -- HAVING drops replicates whose TOTAL weight is 0 (possible on tiny
  -- groups: one row drawing Poisson weight 0) — the replicate mean is
  -- undefined there, and both engines skip it identically
  SELECT flag, rep,
         round(sum(w * price)::DOUBLE / sum(w), 6) AS m
  FROM (SELECT flag, rep, price, {_BOOT_W_SQL} AS w FROM h)
  GROUP BY 1, 2
  HAVING sum(w) > 0
),
l AS (
  SELECT flag, count(*) AS b,
         list(m ORDER BY rep) AS lm,
         list(m * m ORDER BY rep) AS lm2
  FROM g GROUP BY 1
)
SELECT flag AS l_returnflag, b::BIGINT AS n_reps,
       round(list_sum(lm) / b, 6) AS boot_mean,
       round(sqrt(greatest((list_sum(lm2) - list_sum(lm) * list_sum(lm) / b)
                           / (b - 1), 0.0)), 6) AS boot_se
FROM l
"""
# b - 1 = 0 (a single surviving replicate) yields NULL on both engines
# (duck x/0 / Spark try_divide), then greatest(NULL, 0.0) = 0.0 on both.


@query("stat_bootstrap", category="D.agg", oracle=_BOOT_ORACLE)
def stat_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap standard error of mean extended price per return
    flag — THE resampling scheme that actually works on a cluster
    (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    Google 2012): instead of drawing n rows with replacement (which
    needs global coordination), each row independently receives a
    Poisson(1) weight per replicate, so the 32 replicates are ONE
    map-side explode + ONE partial-aggregated shuffle of 96 groups —
    embarrassingly parallel at 100 TB, no sampling pass, no driver.

    Determinism/exactness: the weight is derived from the md5 of
    (orderkey, linenumber, replicate) compared against literal
    Poisson(1) CDF breakpoints — both engines parse the identical float
    literals and the identical 32-bit hash integer, so every weight
    matches exactly. Replicate means are decimal-weighted sums over
    integer weights (exact) with ONE rounded double division; the
    across-replicate mean/variance then folds the 32 rounded means in
    REPLICATE order on both engines (fsum ≡ list(… ORDER BY rep) +
    list_sum), so not even the 32-term sum is fold-order-lucky.

    Round-13 optimization: fan_out_scan before the ×32 weight
    expansion — same single-row-group rationale and partition-order-
    free-state audit as stat_permtest (weighted decimal sums + integer
    weight sums; the across-replicate fold is replicate-ordered)."""
    li = fan_out_scan(Tables(spark, sf_dir).lineitem, spark)
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("key"),
    )
    r = base.select(
        "flag",
        "price",
        "key",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("rep"),
    )
    u = md5_int("boot:", F.col("key"), ":", F.col("rep")) / F.lit(4294967296.0)
    w = None
    for c in _POISSON1_CDF:
        ind = F.when(F.col("u") >= F.expr(c), 1).otherwise(0)
        w = ind if w is None else w + ind
    g = (
        r.withColumn("u", u)
        .withColumn("w", w)
        .groupBy("flag", "rep")
        .agg(
            F.sum(F.col("w") * F.col("price")).alias("swp"),
            F.sum("w").alias("sw"),
        )
        # drop zero-total-weight replicates BEFORE dividing (mirrors the
        # oracle's HAVING sum(w) > 0; ANSI / would throw on them —
        # reachable on tiny groups, the single-row fixture sweep)
        .filter(F.col("sw") > 0)
        .select(
            "flag",
            "rep",
            F.round(F.col("swp").cast("double") / F.col("sw"), 6).alias("m"),
        )
    )
    l = g.groupBy("flag").agg(
        F.count(F.lit(1)).alias("b"),
        F.sort_array(
            F.collect_list(F.struct(F.col("rep"), F.col("m")))
        ).alias("arr"),
    )
    sm = fsum(F.transform(F.col("arr"), lambda s: s.getField("m")))
    sm2 = fsum(
        F.transform(
            F.col("arr"), lambda s: s.getField("m") * s.getField("m")
        )
    )
    b = F.col("b")
    return l.select(
        F.col("flag").alias("l_returnflag"),
        b.cast("long").alias("n_reps"),
        F.round(sm / b, 6).alias("boot_mean"),
        # try_divide: b = 1 (one surviving replicate) → NULL on both
        # engines, then greatest(NULL, 0) = 0.0 on both; /b is safe
        F.round(
            F.sqrt(
                F.greatest(
                    F.try_divide(sm2 - sm * sm / b, b - 1), F.lit(0.0)
                )
            ),
            6,
        ).alias("boot_se"),
    )


@query(
    "ml_calibration",
    category="D.agg",
    oracle="""
WITH train AS (
  SELECT floor(l_quantity + 0.5)::BIGINT AS q,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem WHERE l_orderkey % 4 < 3
),
model AS (
  SELECT q, round(sum(y)::DOUBLE / count(*), 6)::DECIMAL(18,6) AS p
  FROM train GROUP BY 1
),
test AS (
  SELECT floor(l_quantity + 0.5)::BIGINT AS q,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem WHERE l_orderkey % 4 = 3
),
s AS (
  SELECT t.y, m.p,
         least(floor(m.p * 10)::INT, 9) AS bin,
         ((m.p * 1000000)::BIGINT - t.y * 1000000) AS dmu
  FROM test t JOIN model m ON t.q = m.q
)
SELECT bin, count(*)::BIGINT AS n,
       round(sum(p)::DOUBLE / count(*), 6) AS mean_pred,
       round(sum(y)::DOUBLE / count(*), 6) AS frac_pos,
       round(sum(dmu * dmu)::DOUBLE / (count(*) * 1e12), 6) AS brier
FROM s GROUP BY 1
""",
)
def ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + per-bin Brier score for a frequency
    classifier P(returnflag='R' | quantity) — the model-eval surface
    every curation pipeline needs before it trusts a quality score as a
    sampling weight (is a "0.3" really 30%?). Train/eval split is BY
    ORDER (orderkey % 4), so all lines of an order land on one side —
    the group-level leakage rule from the documents block splits.

    The model is the train-side empirical rate per quantity bucket,
    ROUNDED TO 6 DP AND PINNED AS DECIMAL(18,6) — the kmeans
    centroid-hand-off discipline — so binning (floor(p·10)) and the
    Brier residuals replay exactly. Brier stays INTEGER until the last
    division: p and y are lifted to micro-units (×10⁶ exact), the
    squared deviation is an exact BIGINT, and only the final
    sum/(n·10¹²) is double (BIGINT→DOUBLE is IEEE round-to-nearest in
    both engines). Plan: model is a ≤50-row broadcast; the scan is
    shared-shape with q1 — one partial agg for train, one broadcast-join
    pass for test. At 100 TB the model side stays 50 rows."""
    li = Tables(spark, sf_dir).lineitem
    q = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("q")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y")
    train = li.where(F.col("l_orderkey") % 4 < 3).select(q, y)
    model = train.groupBy("q").agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6)
        .cast("decimal(18,6)")
        .alias("p")
    )
    test = li.where(F.col("l_orderkey") % 4 == 3).select(q, y)
    p = F.col("p")
    s = test.join(F.broadcast(model), "q").select(
        "y",
        "p",
        F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("bin"),
        ((p * 1000000).cast("long") - F.col("y") * 1000000).alias("dmu"),
    )
    return s.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("p").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_pred"
        ),
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
            "frac_pos"
        ),
        F.round(
            F.sum(F.col("dmu") * F.col("dmu")).cast("double")
            / (F.count(F.lit(1)) * F.lit(1e12)),
            6,
        ).alias("brier"),
    )


@query(
    "ts_stl",
    category="E.window",
    oracle="""
WITH bounds AS (
  SELECT event_type, date_trunc('hour', min(ts)) AS h0,
         date_trunc('hour', max(ts)) AS h1
  FROM events GROUP BY 1
),
grid AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM bounds
),
c AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT g.event_type, g.h, coalesce(c.n, 0) AS n
  FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
),
w AS (
  SELECT event_type, h, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS sa,
         sum(n) OVER (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS sb,
         count(*) OVER (PARTITION BY event_type ORDER BY h
                        ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS nw
  FROM series
)
SELECT event_type, extract(hour FROM h)::BIGINT AS hod,
       count(*)::BIGINT AS n_hours,
       round(sum(48 * n - (sa + sb))::DOUBLE / (48 * count(*)), 6)
         AS seasonal
FROM w WHERE nw = 25
GROUP BY 1, 2
""",
)
def ts_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (the moving-average core of
    STL / X-11) of the hourly event-count series per type: trend is the
    CENTERED 2×24 moving average (the textbook even-period trick — two
    staggered 24-hour sums averaged, so the window is symmetric), the
    seasonal component is the mean DETRENDED value per hour-of-day.
    ts_seasonality profiles raw hourly means; this one removes the
    trend first, so a ramping workload doesn't masquerade as
    seasonality.

    The series is DENSIFIED first (per-type hour grid via sequence +
    left join, zero-filled) because ROWS frames count rows, not hours —
    on a gappy series a 24-row window is not 24 hours. Grid size is
    calendar-bounded (~720 h × |types|), so every window/sort stage
    after the one real shuffle (hourly partial agg of the raw scan) is
    O(calendar), independent of data scale. Integer-exactness: counts
    are ints, so 48·trend is the integer sa+sb and the detrended
    numerator 48n−(sa+sb) stays a BIGINT until the single final rounded
    division; full 25-row frames only (nw = 25) so edges don't dilute."""
    ev = Tables(spark, sf_dir).events
    series = hourly_counts(ev, "event_type")
    wspec = Window.partitionBy("event_type").orderBy("h")
    sa = F.sum("n").over(wspec.rowsBetween(-12, 11))
    sb = F.sum("n").over(wspec.rowsBetween(-11, 12))
    nw = F.count(F.lit(1)).over(wspec.rowsBetween(-12, 12))
    w = series.select(
        "event_type",
        "h",
        "n",
        sa.alias("sa"),
        sb.alias("sb"),
        nw.alias("nw"),
    )
    det = 48 * F.col("n") - (F.col("sa") + F.col("sb"))
    return (
        w.where(F.col("nw") == 25)
        .groupBy("event_type", F.hour("h").cast("long").alias("hod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.round(
                F.sum(det).cast("double") / (48 * F.count(F.lit(1))), 6
            ).alias("seasonal"),
        )
    )


@query(
    "ml_auc",
    category="D.agg",
    oracle="""
WITH train AS (
  SELECT floor(l_quantity + 0.5)::BIGINT AS q,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem WHERE l_orderkey % 4 < 3
),
model AS (
  SELECT q, round(sum(y)::DOUBLE / count(*), 6)::DECIMAL(18,6) AS p
  FROM train GROUP BY 1
),
test AS (
  SELECT floor(l_quantity + 0.5)::BIGINT AS q,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem WHERE l_orderkey % 4 = 3
),
v AS (
  SELECT m.p, count(*) AS cnt, sum(t.y) AS pos
  FROM test t JOIN model m ON t.q = m.q
  GROUP BY 1
),
r AS (
  SELECT pos, cnt,
         2 * sum(cnt) OVER (ORDER BY p) - cnt + 1 AS mid2
  FROM v
),
u AS (
  SELECT sum(pos * mid2) AS u2, sum(pos) AS n1, sum(cnt - pos) AS n0
  FROM r
)
SELECT n1::BIGINT AS n_pos, n0::BIGINT AS n_neg,
       round((u2 - n1 * (n1 + 1)) / (2.0 * n1 * n0), 6) AS auc
FROM u
""",
)
def ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the quantity-bucket frequency classifier on the
    held-out quarter (ml_calibration's model, threshold-free metric) via
    the rank statistic: AUC = (R₁ − n₁(n₁+1)/2) / (n₁n₀) where R₁ is
    the midrank sum of positives — the Mann-Whitney identity, so the
    whole computation is INTEGER until one final division. Ranks are
    computed on the VALUE-LEVEL aggregate (≤50 distinct scores), the
    stat_mannwhitney boundedness trick: the running-sum window sorts 50
    rows, never 60k, so the plan is two partial-agg shuffles + a 50-row
    window at any data scale. Midranks dodge the tie nondeterminism that
    row-number ranks would hit on a 50-value score column; doubling
    (mid2 = 2·cum − cnt + 1) keeps them integers."""
    li = Tables(spark, sf_dir).lineitem
    q = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("q")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y")
    train = li.where(F.col("l_orderkey") % 4 < 3).select(q, y)
    model = train.groupBy("q").agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6)
        .cast("decimal(18,6)")
        .alias("p")
    )
    test = li.where(F.col("l_orderkey") % 4 == 3).select(q, y)
    v = (
        test.join(F.broadcast(model), "q")
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos"))
    )
    wr = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    r = v.select(
        "pos",
        "cnt",
        (2 * F.sum("cnt").over(wr) - F.col("cnt") + 1).alias("mid2"),
    )
    u = r.agg(
        F.sum(F.col("pos") * F.col("mid2")).alias("u2"),
        F.sum("pos").alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n0"),
    )
    n1, n0, u2 = F.col("n1"), F.col("n0"), F.col("u2")
    return u.select(
        n1.cast("long").alias("n_pos"),
        n0.cast("long").alias("n_neg"),
        F.round((u2 - n1 * (n1 + 1)) / (F.lit(2.0) * n1 * n0), 6).alias(
            "auc"
        ),
    )


@query(
    "stat_jackknife",
    category="D.agg",
    oracle="""
WITH g AS (
  SELECT l_returnflag AS flag, l_orderkey % 50 AS block,
         sum(l_extendedprice::DECIMAL(18,2)) AS s, count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
tot AS (
  SELECT flag, sum(s) AS st, sum(n) AS nt, count(*) AS b FROM g GROUP BY 1
),
m AS (
  SELECT g.flag, g.block, tot.st, tot.nt, tot.b,
         round((tot.st - g.s)::DOUBLE / (tot.nt - g.n), 6)::DECIMAL(18,6)
           AS mb
  FROM g JOIN tot ON g.flag = tot.flag
),
l AS (
  SELECT flag, max(st) AS st, max(nt) AS nt, max(b) AS b,
         list(mb::DOUBLE ORDER BY block) AS lm,
         list(mb::DOUBLE * mb::DOUBLE ORDER BY block) AS lm2
  FROM m GROUP BY 1
)
SELECT flag AS l_returnflag, b::BIGINT AS n_blocks,
       round(st::DOUBLE / nt, 6) AS jack_mean,
       round(sqrt(greatest((b - 1) * 1.0 / b
                           * (list_sum(lm2)
                              - list_sum(lm) * list_sum(lm) / b), 0.0)), 6)
         AS jack_se
FROM l
""",
)
def stat_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-block (grouped) jackknife standard error of the per-flag
    mean price — the OTHER cluster-native resampler next to
    stat_bootstrap: instead of reweighting rows, drop one SHARD at a
    time (blocks = orderkey % 50, the unit a real pipeline already has)
    and recompute the estimator from the block-level sufficient
    statistics. The leave-one-out means need NO second data pass: block
    sums are exact decimals, so (S−s_b)/(N−n_b) is algebra over the
    50-row aggregate — the pattern that makes jackknifing a 100 TB mean
    cost one partial-agg shuffle. se² = (B−1)/B · Σ(m_b − m̄)², with the
    50 leave-out means 6-dp-pinned and folded in BLOCK order on both
    engines (fsum ≡ list ORDER BY + list_sum)."""
    li = Tables(spark, sf_dir).lineitem
    g = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_orderkey") % 50).alias("block"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    tot = g.groupBy("flag").agg(
        F.sum("s").alias("st"),
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("b"),
    )
    m = g.join(F.broadcast(tot), "flag").select(
        "flag",
        "block",
        "st",
        "nt",
        "b",
        # try_divide: nt − n = 0 only when ONE block holds the whole
        # flag (b = 1, the single-row fixture) — then EVERY mb of the
        # flag is NULL on both engines (duck x/0), the folds go NULL,
        # and greatest(NULL, 0) = 0.0 on both → jack_se 0.0. With
        # b ≥ 2 no block can cover all rows, so no partial-NULL mix
        # (where duck's list_sum skips NULLs but Spark's fold wouldn't).
        F.round(
            F.try_divide(
                (F.col("st") - F.col("s")).cast("double"),
                F.col("nt") - F.col("n"),
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("mb"),
    )
    l = m.groupBy("flag").agg(
        F.max("st").alias("st"),
        F.max("nt").alias("nt"),
        F.max("b").alias("b"),
        F.sort_array(
            F.collect_list(F.struct(F.col("block"), F.col("mb")))
        ).alias("arr"),
    )
    # fold DOUBLES on both engines: mb→double is exact (6-dp value well
    # under 2^53 quanta), and double*double is IEEE-identical, whereas a
    # decimal square overflows DuckDB's DECIMAL(18) multiply
    mbd = lambda s: s.getField("mb").cast("double")  # noqa: E731
    sm = fsum(F.transform(F.col("arr"), mbd))
    sm2 = fsum(F.transform(F.col("arr"), lambda s: mbd(s) * mbd(s)))
    b = F.col("b")
    return l.select(
        F.col("flag").alias("l_returnflag"),
        b.cast("long").alias("n_blocks"),
        F.round(F.col("st").cast("double") / F.col("nt"), 6).alias(
            "jack_mean"
        ),
        F.round(
            F.sqrt(
                F.greatest(
                    (b - 1) * F.lit(1.0) / b * (sm2 - sm * sm / b),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("jack_se"),
    )  # /b is safe: b >= 1 wherever a flag row exists


@query(
    "ts_acf_multi",
    category="E.window",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
c AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1),
series AS (
  SELECT row_number() OVER (ORDER BY g.h) AS t, coalesce(c.n, 0) AS x
  FROM grid g LEFT JOIN c ON g.h = c.h
),
tot AS (SELECT count(*) AS nn, sum(x) AS s, sum(x * x) AS q FROM series),
lagged AS (
  SELECT k.lag AS k, sum(a.x * b.x) AS ck,
         sum(a.x) AS sh, sum(b.x) AS st
  FROM series a
  CROSS JOIN (SELECT unnest(range(1, 25)) AS lag) k
  JOIN series b ON b.t = a.t + k.lag
  GROUP BY 1
)
SELECT k::BIGINT AS lag, (tot.nn - k)::BIGINT AS n_terms,
       round((tot.nn * tot.nn * ck - tot.nn * tot.s * (sh + st)
              + (tot.nn - k) * tot.s * tot.s)
             / (tot.nn * tot.nn * tot.q - tot.nn * tot.s * tot.s)
             * 1.0, 6) AS acf
FROM lagged, tot
""",
)
def ts_acf_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The autocorrelation FUNCTION of the global hourly event-count
    series — acf at every lag 1..24 in one pass (ts_autocorr does lag-1
    per user; this is the seasonality-detection profile whose k=24 spike
    is the daily cycle). Computed on the DENSIFIED calendar-bounded grid
    (~720 rows at any SF), so the lag self-join is |grid|×24, not
    |events|×24 — the heavy scan contributes exactly one hourly
    partial-agg shuffle. Everything is INTEGER algebra until the last
    division: with μ = S/N, the lag-k covariance ×N² is
    N²·C_k − N·S·(Sh+St) + (N−k)·S², and the variance ×N² is N²Q − NS²
    — all BIGINT-exact — so the acf value is ONE double division
    (statsmodels convention: full-series mean and denominator, partial
    numerator). Both engines divide identical integers, round 6 dp."""
    ev = Tables(spark, sf_dir).events
    series = (
        hourly_counts(ev, name="x")
        .select(F.row_number().over(Window.orderBy("h")).alias("t"), "x")
        .cache()  # both sides of the lag join + the moment totals
    )
    tot = series.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    lags = spark.range(1, 25).select(F.col("id").alias("k"))
    a = series.alias("a").crossJoin(F.broadcast(lags))
    b = series.alias("b")
    lagged = (
        a.join(b, F.col("b.t") == F.col("a.t") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.col("a.x") * F.col("b.x")).alias("ck"),
            F.sum(F.col("a.x")).alias("sh"),
            F.sum(F.col("b.x")).alias("st"),
        )
    )
    j = lagged.crossJoin(F.broadcast(tot))
    nn, s, qq, k = F.col("nn"), F.col("s"), F.col("q"), F.col("k")
    num = nn * nn * F.col("ck") - nn * s * (F.col("sh") + F.col("st")) + (
        nn - k
    ) * s * s
    den = nn * nn * qq - nn * s * s
    return j.select(
        k.cast("long").alias("lag"),
        (nn - k).cast("long").alias("n_terms"),
        F.round(num / den * F.lit(1.0), 6).alias("acf"),
    )


_DTW_ORACLE = """
WITH RECURSIVE
prof AS (
  SELECT event_type, extract(hour FROM ts)::BIGINT AS hod, count(*) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, g.hod
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(24)) AS hod) g
),
arr AS (
  SELECT g.event_type, list(coalesce(p.n, 0)::BIGINT ORDER BY g.hod) AS v
  FROM grid g LEFT JOIN prof p
    ON g.event_type = p.event_type AND g.hod = p.hod
  GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb, a.v AS va, b.v AS vb
  FROM arr a JOIN arr b ON a.event_type < b.event_type
),
dp AS (
  SELECT ta, tb, va, vb, 1 AS i,
         list_transform(range(1, 25), j ->
           list_sum(list_transform(range(1, j + 1),
             m -> abs(va[1] - vb[m])))) AS r
  FROM pairs
  UNION ALL
  SELECT ta, tb, va, vb, i + 1,
         list_transform(range(1, 25), j ->
           list_sum(list_transform(range(1, j + 1),
             m -> abs(va[i + 1] - vb[m])))
           + list_min(list_transform(range(1, j + 1), k ->
               (CASE WHEN k = 1 THEN r[1]
                     ELSE least(r[k], r[k - 1]) END)
               - (CASE WHEN k = 1 THEN 0
                       ELSE list_sum(list_transform(range(1, k),
                              m -> abs(va[i + 1] - vb[m]))) END)))) AS r
  FROM dp WHERE i < 24
)
SELECT ta AS type_a, tb AS type_b,
       list_sum(list_transform(range(1, 25),
         m -> abs(va[m] - vb[m])))::BIGINT AS l1_dist,
       r[24]::BIGINT AS dtw
FROM dp WHERE i = 24
"""


@query("ts_dtw", category="E.window", oracle=_DTW_ORACLE)
def ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between the hour-of-day activity
    profiles of every event-type pair — the alignment-tolerant
    time-series similarity Spark has no operator for (pattern: Sakoe &
    Chiba 1978; the ts-clustering primitive). The profiles are
    CALENDAR-BOUNDED 24-vectors built from one partial-agg shuffle of
    the raw scan, so the quadratic DP runs on |types|² tiny arrays —
    at 100 TB the DP cost is unchanged.

    The DP is expressed WITHOUT a sequential in-row fold: the row
    recurrence N[j] = c_j + min(N[j−1], P[j], P[j−1]) unrolls to the
    min-plus prefix form N[j] = pc[j] + min_{k≤j}(E[k] − pc[k−1]) with
    pc the cost prefix sums and E[k] = min(P[k], P[k−1]) the row-entry
    cost — every element is a pure function of the PREVIOUS row, so
    both engines compute rows via independent per-element lambdas
    (Spark transform/array_min inside one aggregate over i; DuckDB a
    recursive CTE carrying the row list). Everything is BIGINT |·|
    algebra — no floats, bit-exact by construction. l1_dist (the
    no-warp alignment) rides along: dtw ≤ l1 always, and the gap
    measures how much warping helps."""
    ev = Tables(spark, sf_dir).events
    prof = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count(F.lit(1)).alias("n"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(
        spark.range(24).select(F.col("id").alias("hod"))
    )
    arr = (
        grid.join(prof, ["event_type", "hod"], "left")
        .select(
            "event_type",
            "hod",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
        .groupBy("event_type")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("hod"), F.col("n")))
                ),
                lambda s: s.getField("n"),
            ).alias("v")
        )
        # cache: the ≤5-row profile-array frame is BOTH sides of the
        # DTW pair join — uncached, the corpus profile pass plans twice
        # (the duplicated-subtree trap)
        .cache()
    )
    a = arr.select(
        F.col("event_type").alias("ta"), F.col("v").alias("va")
    )
    b = arr.select(
        F.col("event_type").alias("tb"), F.col("v").alias("vb")
    )
    pairs = a.join(b, F.col("ta") < F.col("tb"))

    va, vb = F.col("va"), F.col("vb")
    zero = F.lit(0).cast("long")

    def isum(col):
        return F.aggregate(col, zero, lambda acc, x: acc + x)

    def cost(i, m):
        return F.abs(F.element_at(va, i) - F.element_at(vb, m))

    def pc(i, j):
        return isum(
            F.transform(F.sequence(F.lit(1), j), lambda m: cost(i, m))
        )

    row1 = F.transform(
        F.sequence(F.lit(1), F.lit(24)), lambda j: pc(F.lit(1), j)
    )

    def step(prev, i):
        return F.transform(
            F.sequence(F.lit(1), F.lit(24)),
            lambda j: pc(i, j)
            + F.array_min(
                F.transform(
                    F.sequence(F.lit(1), j),
                    lambda k: F.when(k == 1, F.element_at(prev, 1))
                    .otherwise(
                        F.least(
                            F.element_at(prev, k),
                            F.element_at(prev, k - 1),
                        )
                    )
                    - F.when(k == 1, zero).otherwise(pc(i, k - 1)),
                )
            ),
        )

    final = F.aggregate(F.sequence(F.lit(2), F.lit(24)), row1, step)
    l1 = isum(F.zip_with(va, vb, lambda x, y: F.abs(x - y)))
    return pairs.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        l1.cast("long").alias("l1_dist"),
        F.element_at(final, 24).cast("long").alias("dtw"),
    )


@query(
    "ml_kfold_cv",
    category="D.agg",
    oracle="""
WITH cells AS (
  SELECT floor(l_quantity + 0.5)::BIGINT AS q, l_orderkey % 4 AS fold,
         count(*) AS cnt,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
  FROM lineitem GROUP BY 1, 2
),
tot AS (
  SELECT q, sum(cnt) AS cnt_q, sum(pos) AS pos_q FROM cells GROUP BY 1
),
scored AS (
  SELECT c.fold, c.cnt, c.pos,
         round((t.pos_q - c.pos)::DOUBLE / (t.cnt_q - c.cnt), 6)
           ::DECIMAL(18,6) AS p
  FROM cells c JOIN tot t ON c.q = t.q
  WHERE t.cnt_q > c.cnt
)
SELECT fold::BIGINT AS fold, sum(cnt)::BIGINT AS n,
       round(sum(CASE WHEN p > 0.5 THEN pos ELSE cnt - pos END)::DOUBLE
             / sum(cnt), 6) AS accuracy
FROM scored GROUP BY 1
""",
)
def ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-fold cross-validated accuracy of the quantity-bucket frequency
    classifier — WITHOUT training 4 models or scanning 4 times: the
    leave-fold-out model for fold f is (bucket totals − fold f's own
    cell), the sufficient-statistics subtraction trick (stat_jackknife
    applied to classification). ONE shuffle builds the (bucket, fold)
    cells; bucket totals re-aggregate those partials; and even the EVAL
    needs no row pass — within a (bucket, fold) cell every row shares
    the same prediction (p > 0.5), so correct-counts are `pos` or
    `cnt − pos` straight from the cell. At 100 TB this turns k-fold CV
    into k·|buckets| rows of algebra after a single aggregate scan.
    Buckets seen ONLY in the held-out fold have an empty training side
    and are excluded (cnt_q > cnt guard). Leave-out rates are
    6-dp-pinned decimals; the > 0.5 threshold compare is exact; fold
    accuracy is one integer ratio."""
    li = Tables(spark, sf_dir).lineitem
    cells = li.groupBy(
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("q"),
        (F.col("l_orderkey") % 4).alias("fold"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("pos"),
    )
    tot = cells.groupBy("q").agg(
        F.sum("cnt").alias("cnt_q"), F.sum("pos").alias("pos_q")
    )
    scored = (
        cells.join(F.broadcast(tot), "q")
        .where(F.col("cnt_q") > F.col("cnt"))
        .select(
            "fold",
            "cnt",
            "pos",
            F.round(
                (F.col("pos_q") - F.col("pos")).cast("double")
                / (F.col("cnt_q") - F.col("cnt")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("p"),
        )
    )
    return scored.groupBy(F.col("fold").cast("long").alias("fold")).agg(
        F.sum("cnt").cast("long").alias("n"),
        F.round(
            F.sum(
                F.when(
                    F.col("p") > 0.5, F.col("pos")
                ).otherwise(F.col("cnt") - F.col("pos"))
            ).cast("double")
            / F.sum("cnt"),
            6,
        ).alias("accuracy"),
    )


@query(
    "stat_permtest",
    category="D.agg",
    oracle="""
WITH obs AS (
  SELECT sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS nb,
         round(sum(CASE WHEN l_returnflag = 'R'
                        THEN l_extendedprice::DECIMAL(18,2) END)::DOUBLE
               / sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               - sum(CASE WHEN l_returnflag <> 'R'
                          THEN l_extendedprice::DECIMAL(18,2) END)::DOUBLE
                 / sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END), 6)
           AS d
  FROM lineitem
),
reps AS (SELECT unnest(range(32)) AS rep),
p AS (
  SELECT rep,
         ('0x' || substr(md5('perm:' || l_orderkey || '-' || l_linenumber
                             || ':' || rep), 1, 8))::BIGINT % 2 AS g,
         l_extendedprice::DECIMAL(18,2) AS price
  FROM lineitem CROSS JOIN reps
),
d AS (
  SELECT rep,
         round(abs(sum(CASE WHEN g = 1 THEN price END)::DOUBLE
                   / sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
                   - sum(CASE WHEN g = 0 THEN price END)::DOUBLE
                     / sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)), 6) AS dr
  FROM p GROUP BY 1
),
c AS (
  SELECT count(*) AS b, sum(CASE WHEN d.dr >= abs(obs.d) THEN 1 ELSE 0 END)
           AS n_ge
  FROM d, obs
)
SELECT obs.na::BIGINT AS n_a, obs.nb::BIGINT AS n_b, obs.d AS obs_diff,
       c.b::BIGINT AS n_perms, c.n_ge::BIGINT AS n_ge,
       round((c.n_ge + 1)::DOUBLE / (c.b + 1), 6) AS p_value
FROM obs, c
""",
)
def stat_permtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the price difference between returned
    ('R') and kept lines — the nonparametric A/B significance test that
    scales: instead of shuffling labels (a global sort), each replicate
    REASSIGNS every row independently by hash coin (random-reallocation
    variant of the permutation test, same null of exchangeability), so
    32 null draws cost ONE map-side explode + one 32-group conditional
    aggregate — the stat_bootstrap execution shape with a different
    resampler. p = (#{|d_r| ≥ |d_obs|} + 1)/(B + 1), the add-one rule
    that keeps p valid. Group assignment is an md5 parity — exact on
    both engines; replicate mean gaps are decimal-sum ratios rounded
    6 dp before the ≥ comparison, so the accept/reject of every
    replicate is reproducible bit-for-bit.

    Round-13 optimization (guide §2.5 unsplittable input): the ×32
    hash-replicate expansion (~19M md5+conv at sf0.1) ran inside the
    single-task scan stage (single-row-group fixture), pinning it to
    one core; fan_out_scan round-robins the narrow pre-expansion rows
    across the session's cores first (no-op on any multi-split
    corpus). Partition-order-free states only (decimal sums + counts),
    so the result is partitioning-invariant."""
    li = fan_out_scan(Tables(spark, sf_dir).lineitem, spark)
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    is_a = F.col("l_returnflag") == "R"
    obs = li.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(~is_a, 1).otherwise(0)).alias("nb"),
        F.round(
            F.sum(F.when(is_a, price)).cast("double")
            / F.sum(F.when(is_a, 1).otherwise(0))
            - F.sum(F.when(~is_a, price)).cast("double")
            / F.sum(F.when(~is_a, 1).otherwise(0)),
            6,
        ).alias("d"),
    )
    rep = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("rep")
    p = li.select(
        price.alias("price"),
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("key"),
        rep,
    ).select(
        "price",
        "rep",
        (md5_int("perm:", F.col("key"), ":", F.col("rep")) % 2).alias("g"),
    )
    g1, g0 = F.col("g") == 1, F.col("g") == 0
    d = p.groupBy("rep").agg(
        F.round(
            F.abs(
                F.sum(F.when(g1, F.col("price"))).cast("double")
                / F.sum(F.when(g1, 1).otherwise(0))
                - F.sum(F.when(g0, F.col("price"))).cast("double")
                / F.sum(F.when(g0, 1).otherwise(0))
            ),
            6,
        ).alias("dr")
    )
    c = d.crossJoin(F.broadcast(obs.select(F.abs(F.col("d")).alias("ad")))).agg(
        F.count(F.lit(1)).alias("b"),
        F.sum(
            F.when(F.col("dr") >= F.col("ad"), 1).otherwise(0)
        ).alias("n_ge"),
    )
    return obs.crossJoin(F.broadcast(c)).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("d").alias("obs_diff"),
        F.col("b").cast("long").alias("n_perms"),
        F.col("n_ge").cast("long").alias("n_ge"),
        F.round(
            (F.col("n_ge") + 1).cast("double") / (F.col("b") + 1), 6
        ).alias("p_value"),
    )


@query(
    "sample_weighted",
    category="D.agg",
    oracle="""
WITH s AS (
  SELECT l_orderkey, l_linenumber, floor(l_quantity + 0.5)::BIGINT AS qty,
         CASE WHEN floor(l_quantity + 0.5)::BIGINT != 0 THEN
           ln((('0x' || substr(md5('ws:' || l_orderkey || '-' || l_linenumber),
                               1, 8))::BIGINT + 1) / 4294967297.0)
             / floor(l_quantity + 0.5)::BIGINT END AS score
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, qty, round(score, 9) AS score
FROM s
ORDER BY s.score DESC NULLS LAST, l_orderkey, l_linenumber
LIMIT 100
""",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, sized-by-quantity, via the
    Efraimidis–Spirakis exponential-key trick: each row draws
    u ∈ (0,1] and keys on u^(1/w) — taking the top-k keys yields an
    exact weighted sample — computed as ln(u)/w (monotone transform,
    avoids pow). This is THE one-pass distributed weighted sampler
    (used for mixture-weighted corpus draws): no global weight total
    needed, no rejection loop, and the top-k is Spark's
    TakeOrderedAndProject — per-partition heaps, then a k-row merge on
    the driver, never a global sort. u is hash-derived ((h+1)/2³², so
    u > 0 and ln is finite) — identical doubles on both engines, and
    the ln/division ladder matches the text_perplexity ln-parity
    precedent; (orderkey, linenumber) break any score ties for a total
    order. The selection uses the UNROUNDED score; the output column is
    rounded at 9 dp for the cross-engine hash."""
    li = Tables(spark, sf_dir).lineitem
    h = md5_int("ws:", F.col("l_orderkey"), "-", F.col("l_linenumber"))
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    # try_divide: a zero integer weight (sub-unit quantity truncates to
    # 0) draws no key — NULL score, ordered after every real key on
    # both engines (round-12 ×1e-5 axis; DuckDB x/0 is NULL)
    score = F.try_divide(F.log((h + 1) / F.lit(4294967297.0)), qty)
    s = li.select(
        "l_orderkey",
        "l_linenumber",
        qty.alias("qty"),
        score.alias("score"),
    )
    return (
        s.orderBy(
            # explicit NULLS LAST: score is nullable since the try_divide
            # guard — spell the placement on a nullable ordering column
            # (the round-11 rank-window rule)
            F.col("score").desc_nulls_last(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        )
        .limit(100)
        .select(
            "l_orderkey",
            "l_linenumber",
            "qty",
            F.round("score", 9).alias("score"),
        )
    )


@query(
    "ts_backtest",
    category="E.window",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
c AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1),
series AS (
  SELECT row_number() OVER (ORDER BY g.h) AS t, coalesce(c.n, 0) AS x
  FROM grid g LEFT JOIN c ON g.h = c.h
),
lagged AS (
  SELECT t, x,
         lag(x, 1) OVER (ORDER BY t) AS f_naive,
         lag(x, 24) OVER (ORDER BY t) AS f_snaive
  FROM series
),
e AS (SELECT * FROM lagged WHERE t > 24)
SELECT 'naive' AS model, count(*)::BIGINT AS n,
       round(sum(abs(x - f_naive))::DOUBLE / count(*), 6) AS mae,
       round(sqrt(sum((x - f_naive) * (x - f_naive))::DOUBLE / count(*)), 6)
         AS rmse
FROM e
UNION ALL
SELECT 'seasonal_naive' AS model, count(*)::BIGINT AS n,
       round(sum(abs(x - f_snaive))::DOUBLE / count(*), 6) AS mae,
       round(sqrt(sum((x - f_snaive) * (x - f_snaive))::DOUBLE / count(*)), 6)
         AS rmse
FROM e
""",
)
def ts_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting on the hourly event-count series: walk
    forward through the grid and score the two canonical baselines —
    naive (x̂_t = x_{t−1}) and seasonal-naive (x̂_t = x_{t−24}) — by MAE
    and RMSE over the common evaluation window (t > 24, where both are
    defined). These baselines are the denominators every real forecast
    eval (MASE, skill scores) is measured against; if seasonal-naive
    beats naive, the series has a daily cycle worth modeling (the
    decision ts_stl/ts_holt_seasonal act on). Series is the densified
    CALENDAR-BOUNDED grid (ts_acf_multi's shape): one partial-agg
    shuffle over raw events, then windows over ~720 rows. Counts are
    integers, so absolute/squared error sums are BIGINT-exact; each
    metric is one final rounded double division (IEEE-identical)."""
    ev = Tables(spark, sf_dir).events
    series = hourly_counts(ev, name="x").select(
        F.row_number().over(Window.orderBy("h")).alias("t"), "x"
    )
    w = Window.orderBy("t")
    e = series.select(
        "t",
        "x",
        F.lag("x", 1).over(w).alias("f_naive"),
        F.lag("x", 24).over(w).alias("f_snaive"),
    ).where(F.col("t") > 24).cache()  # feeds both model aggregates

    def metrics(fcol: str, name: str) -> DataFrame:
        d = F.col("x") - F.col(fcol)
        return e.agg(
            F.lit(name).alias("model"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.abs(d)).cast("double") / F.count(F.lit(1)), 6
            ).alias("mae"),
            F.round(
                F.sqrt(F.sum(d * d).cast("double") / F.count(F.lit(1))), 6
            ).alias("rmse"),
        )

    return metrics("f_naive", "naive").unionAll(
        metrics("f_snaive", "seasonal_naive")
    )


@query(
    "ts_anomaly_hours",
    category="E.window",
    oracle="""
WITH bounds AS (
  SELECT event_type, date_trunc('hour', min(ts)) AS h0,
         date_trunc('hour', max(ts)) AS h1
  FROM events GROUP BY 1
),
grid AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM bounds
),
c AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT g.event_type, g.h, extract(hour FROM g.h)::BIGINT AS hod,
         coalesce(c.n, 0) AS n
  FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
),
prof AS (
  SELECT event_type, hod, count(*) AS cnt, sum(n) AS s, sum(n * n) AS q
  FROM series GROUP BY 1, 2
)
SELECT s.event_type, s.h, s.hod, s.n::BIGINT AS n,
       round((p.cnt * s.n - p.s) * (p.cnt * s.n - p.s)
             / (p.cnt * p.q - p.s * p.s) * 1.0, 6) AS z2
FROM series s JOIN prof p ON s.event_type = p.event_type AND s.hod = p.hod
WHERE p.cnt * p.q > p.s * p.s
  AND (p.cnt * s.n - p.s) * (p.cnt * s.n - p.s)
      > 9 * (p.cnt * p.q - p.s * p.s)
""",
)
def ts_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection on the hourly grid: flag hours whose
    count sits more than 3σ from the mean OF THEIR OWN hour-of-day
    slot (so a busy 9am is only anomalous vs other 9ams — the
    seasonal-baseline rule that kills the false alarms a global
    threshold fires every peak hour). The novelty is the gate itself:
    (x − μ)² > 9σ² is evaluated ENTIRELY IN INTEGERS — with per-slot
    count cnt, sum S, sum-of-squares Q: dev = cnt·x − S and the test is
    dev² > 9(cnt·Q − S²) — no float ever decides a boundary case, so
    the flag set is bit-reproducible on any engine and any cluster
    (compare anomaly_zscore, which reports scores; this one makes the
    cut DECISION exact). One partial-agg shuffle over raw events; the
    profile is |types|·24 rows broadcast back onto the grid; z² is
    reported (rounded) only for the flagged survivors."""
    ev = Tables(spark, sf_dir).events
    series = (
        hourly_counts(ev, "event_type")
        .select("event_type", "h", F.hour("h").cast("long").alias("hod"), "n")
        .cache()  # feeds both the slot profile and the flag join
    )
    prof = series.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("q"),
    )
    j = series.join(F.broadcast(prof), ["event_type", "hod"])
    dev = F.col("cnt") * F.col("n") - F.col("s")
    varn = F.col("cnt") * F.col("q") - F.col("s") * F.col("s")
    return (
        j.where(varn > 0)
        .where(dev * dev > 9 * varn)
        .select(
            "event_type",
            "h",
            "hod",
            F.col("n").cast("long").alias("n"),
            F.round(dev * dev / varn * F.lit(1.0), 6).alias("z2"),
        )
    )


@query(
    "ml_markov_stationary",
    category="D.agg",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
c AS (
  SELECT prev_type AS f, event_type AS t, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
rt AS (SELECT f, sum(n) AS tot FROM c GROUP BY 1),
tm AS (
  SELECT c.f, c.t,
         round(c.n::DOUBLE / rt.tot, 6)::DECIMAL(7,6) AS p
  FROM c JOIN rt ON c.f = rt.f
),
types AS (SELECT DISTINCT f AS ty FROM c),
p0 AS (
  SELECT ty, (1.0 / (SELECT count(*) FROM types))::DECIMAL(8,7) AS p
  FROM types
),
p1 AS (
  SELECT tm.t AS ty, sum((p0.p * tm.p)::DECIMAL(16,13))::DECIMAL(16,13) AS p
  FROM p0 JOIN tm ON p0.ty = tm.f GROUP BY 1
),
p2 AS (
  SELECT tm.t AS ty, sum((p1.p * tm.p)::DECIMAL(24,19)) AS p
  FROM p1 JOIN tm ON p1.ty = tm.f GROUP BY 1
)
SELECT ty AS event_type, round(p::DOUBLE, 6) AS p_stationary
FROM p2
""",
)
def ml_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain next-event model: build the event-type transition
    matrix from every user's ts-ordered history, then run TWO power
    iterations from the uniform vector toward the stationary
    distribution — the sequence-model cousin of graph_pagerank (same
    p·T iteration, row-stochastic instead of damped). The matrix is
    |types|² ≈ 25 cells, so after the ONE lag-window shuffle over
    events the entire linear algebra is joins over broadcast-size
    frames — at 100 TB only the transition counting gets heavier.

    Exactness without hand-off rounding: transition probabilities pin
    to DECIMAL(18,6) (the kmeans rule), but the ITERATIONS stay exact
    rational — uniform is DECIMAL(8,7), each step multiplies decimals
    and sums exactly (scales 7 → 13 → 19; precisions sized so no
    product ever exceeds DECIMAL(38) on either engine), so
    unlike the float power iteration in ml_pca_power there is NO
    mid-iteration rounding at all; the single double cast happens on
    the final exact value. Transition order is total (ts, event_id)."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    c = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("f"), F.col("event_type").alias("t"))
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()  # feeds row totals, the matrix, and the type universe
    )
    rt = c.groupBy("f").agg(F.sum("n").alias("tot"))
    tm = (
        c.join(F.broadcast(rt), "f")
        .select(
            "f",
            "t",
            F.round(F.col("n").cast("double") / F.col("tot"), 6)
            .cast("decimal(7,6)")
            .alias("p"),
        )
        .cache()  # both iteration joins
    )
    types = c.select(F.col("f").alias("ty")).distinct()
    k = types.count()  # tiny driver scalar (|event types|)
    if k == 0:
        # empty-input grain (round-10 sweep): no observed transitions →
        # no chain → no rows, matching the oracle's empty p2 CTE. The
        # early return also keeps the constant 1.0/k out of the plan —
        # ANSI would throw on the folded literal even over zero rows.
        return types.select(
            F.col("ty").alias("event_type"),
            F.lit(None).cast("double").alias("p_stationary"),
        )
    p0 = types.select(
        "ty", (F.lit(1.0) / F.lit(k)).cast("decimal(8,7)").alias("p")
    )
    def step(vec: DataFrame, out_scale: str) -> DataFrame:
        v, m = vec.alias("v"), tm.alias("m")
        return (
            v.join(m, F.col("v.ty") == F.col("m.f"))
            .groupBy(F.col("m.t").alias("ty"))
            .agg(
                F.sum(
                    (F.col("v.p") * F.col("m.p")).cast(out_scale)
                ).cast(out_scale).alias("p")
            )
        )

    p1 = step(p0, "decimal(16,13)")
    p2 = step(p1, "decimal(24,19)")
    return p2.select(
        F.col("ty").alias("event_type"),
        F.round(F.col("p").cast("double"), 6).alias("p_stationary"),
    )


@query(
    "ml_isotonic",
    category="D.agg",
    oracle="""
WITH b AS (
  SELECT floor(l_quantity + 0.5)::BIGINT AS q, count(*) AS n,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
),
one AS (
  SELECT count(*) AS k,
         list(q ORDER BY q) AS qs,
         list(n ORDER BY q) AS ns,
         list(pos ORDER BY q) AS ps
  FROM b
),
pre AS (
  SELECT k, qs, ns, ps,
         list_transform(range(1, k + 1), j -> list_sum(ns[1:j])) AS cn,
         list_transform(range(1, k + 1), j -> list_sum(ps[1:j])) AS cp
  FROM one
),
fit AS (
  SELECT k, qs, ns, ps,
         list_transform(range(1, k + 1), j ->
           list_max(list_transform(range(1, j + 1), i ->
             list_min(list_transform(range(j, k + 1), l ->
               round((cp[l] - CASE WHEN i = 1 THEN 0 ELSE cp[i - 1] END)
                     * 1.0
                     / (cn[l] - CASE WHEN i = 1 THEN 0 ELSE cn[i - 1] END),
                     9)))))) AS iso
  FROM pre
)
SELECT unnest(qs)::BIGINT AS q, unnest(ns)::BIGINT AS n,
       unnest(ps)::BIGINT AS pos,
       unnest(list_transform(range(1, k + 1),
         j -> round(ps[j] * 1.0 / ns[j], 6))) AS raw_rate,
       unnest(list_transform(range(1, k + 1),
         j -> round(iso[j], 6))) AS iso_rate
FROM fit
""",
)
def ml_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone nondecreasing) calibration of
    P(returnflag='R' | quantity) — the nonparametric calibrator that
    beats Platt scaling when the reliability curve is wiggly
    (Zadrozny & Elkan 2002), and the one Spark MLlib implements with a
    sequential PAV sweep. Here it needs NO sequential pass: on a
    BOUNDED score domain (≤50 quantity buckets) the solution has the
    closed minimax form ŷ_j = max_{i≤j} min_{l≥j} avg(y[i..l]), and
    every pooled average is prefix-sum algebra — so the whole fit is
    one partial-agg shuffle to build the buckets, then O(K³) ≈ 125k
    per-element lambdas on a single row (the ts_dtw trick applied to a
    model fitter). At 100 TB only the bucket aggregation scales; the
    fit cost is constant.

    Exactness: bucket counts are integers, prefix sums exact; each
    pooled average is ONE double division rounded to 9 dp BEFORE the
    min/max lattice (both engines compare identical doubles, so pool
    selection cannot diverge); output rounds to 6 dp. Monotonicity of
    the result is a theorem, and the pytest asserts it plus agreement
    with an independent pure-Python PAV. NULL contract: a calibrator
    over a score domain has no bucket for a NULL score — non-null
    feature rows only, mirrored in the oracle (ml_regression_stump
    note)."""
    li = Tables(spark, sf_dir).lineitem.where(
        F.col("l_quantity").isNotNull()
    )
    b = li.groupBy(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("q")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("pos"),
    )
    one = b.agg(
        F.count(F.lit(1)).alias("k"),
        F.sort_array(
            F.collect_list(F.struct(F.col("q"), F.col("n"), F.col("pos")))
        ).alias("arr"),
    )
    k = F.col("k")
    zero = F.lit(0).cast("long")

    def isum(col):
        return F.aggregate(col, zero, lambda a, x: a + x)

    def prefix(field: str):
        return F.transform(
            F.sequence(F.lit(1), k),
            lambda j: isum(
                F.transform(
                    F.slice(F.col("arr"), 1, j),
                    lambda s: s.getField(field),
                )
            ),
        )

    pre = one.select(
        "k",
        "arr",
        prefix("n").alias("cn"),
        prefix("pos").alias("cp"),
    )
    cn, cp = F.col("cn"), F.col("cp")

    def cum(arr_col, i):
        # prefix value before bucket i (0 when i = 1)
        return F.when(i == 1, zero).otherwise(
            F.element_at(arr_col, (i - 1).cast("int"))
        )

    def pooled(i, l):
        return F.round(
            (F.element_at(cp, l.cast("int")) - cum(cp, i))
            * F.lit(1.0)
            / (F.element_at(cn, l.cast("int")) - cum(cn, i)),
            9,
        )

    iso = F.transform(
        F.sequence(F.lit(1), k),
        lambda j: F.array_max(
            F.transform(
                F.sequence(F.lit(1), j),
                lambda i: F.array_min(
                    F.transform(F.sequence(j, k), lambda l: pooled(i, l))
                ),
            )
        ),
    )
    fit = pre.select("k", "arr", iso.alias("iso"))
    ex = fit.select(
        F.posexplode(F.col("arr")).alias("jz", "s"), F.col("iso")
    )
    j1 = F.col("jz") + 1
    return ex.select(
        F.col("s").getField("q").alias("q"),
        F.col("s").getField("n").alias("n"),
        F.col("s").getField("pos").alias("pos"),
        F.round(
            F.col("s").getField("pos") * F.lit(1.0)
            / F.col("s").getField("n"),
            6,
        ).alias("raw_rate"),
        F.round(F.element_at(F.col("iso"), j1), 6).alias("iso_rate"),
    )


@query(
    "ts_cross_corr",
    category="E.window",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
gh AS (SELECT h, row_number() OVER (ORDER BY h) AS t FROM grid),
c AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1, 2),
series AS (
  SELECT ty.event_type, gh.t, coalesce(c.n, 0) AS x
  FROM (SELECT DISTINCT event_type FROM events) ty
  CROSS JOIN gh
  LEFT JOIN c ON c.event_type = ty.event_type AND c.h = gh.h
),
mom AS (
  SELECT event_type, count(*) AS nn, sum(x) AS s, sum(x * x) AS q
  FROM series GROUP BY 1
),
shifted AS (
  SELECT s.event_type, s.x, k.lag, s.t + k.lag AS tk
  FROM series s CROSS JOIN (SELECT unnest(range(-12, 13)) AS lag) k
),
lagged AS (
  SELECT a.event_type AS ta, b.event_type AS tb, a.lag AS k,
         count(*) AS m, sum(a.x * b.x) AS cab,
         sum(a.x) AS sha, sum(b.x) AS stb
  FROM shifted a
  JOIN series b ON b.t = a.tk AND a.event_type < b.event_type
  GROUP BY 1, 2, 3
)
SELECT l.ta AS type_a, l.tb AS type_b, l.k::BIGINT AS lag,
       l.m::BIGINT AS n_terms,
       round((ma.nn * ma.nn * l.cab - ma.nn * ma.s * l.stb
              - ma.nn * mb.s * l.sha + l.m * ma.s * mb.s)
             / (ma.nn * sqrt((ma.nn * ma.q - ma.s * ma.s) * 1.0
                             * (mb.nn * mb.q - mb.s * mb.s))), 6) AS ccf
FROM lagged l
JOIN mom ma ON l.ta = ma.event_type
JOIN mom mb ON l.tb = mb.event_type
""",
)
def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between every event-type pair at lags
    −12..+12 hours — the lead-lag detector (does 'view' activity
    precede 'purchase' activity, and by how many hours?) that
    completes the correlation toolbox next to ts_acf_multi (self) and
    ts_dtw (shape). Same scale shape: ONE hourly partial agg over raw
    events, then everything runs on the calendar-bounded shared grid
    (|grid|·25 lag-join rows per pair). Integer algebra throughout —
    with full-series moments N, S, Q per type and overlap sums
    C_k, Sh_a, St_b over the m = N−|k| aligned hours, the numerator
    ×N² is N²C_k − N·S_a·St_b − N·S_b·Sh_a + m·S_a·S_b and the
    denominator is N·√((NQ_a−S_a²)(NQ_b−S_b²))/N² ⇒ one factor of N
    outside the root (Σ(x−x̄)² = (NQ−S²)/N) — everything BIGINT until
    the one final rounded division (statsmodels ccf convention:
    full-series means/variances, partial numerator)."""
    ev = Tables(spark, sf_dir).events
    gh = hour_grid(ev).select(
        "h", F.row_number().over(Window.orderBy("h")).alias("t")
    )
    types = ev.select("event_type").distinct()
    series = (
        hourly_counts(ev, "event_type", grid=types.crossJoin(gh), name="x")
        .select("event_type", "t", "x")
        .cache()  # both lag-join sides + the per-type moments
    )
    mom = series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    lags = spark.range(-12, 13).select(F.col("id").alias("k"))
    a = series.alias("a").crossJoin(F.broadcast(lags))
    b = series.alias("b")
    lagged = (
        a.join(
            b,
            (F.col("b.t") == F.col("a.t") + F.col("k"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
            "k",
        )
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(F.col("a.x") * F.col("b.x")).alias("cab"),
            F.sum(F.col("a.x")).alias("sha"),
            F.sum(F.col("b.x")).alias("stb"),
        )
    )
    ma = mom.select(
        F.col("event_type").alias("ta"),
        F.col("nn").alias("nna"),
        F.col("s").alias("sa"),
        F.col("q").alias("qa"),
    )
    mb = mom.select(
        F.col("event_type").alias("tb"),
        F.col("nn").alias("nnb"),
        F.col("s").alias("sb"),
        F.col("q").alias("qb"),
    )
    j = lagged.join(F.broadcast(ma), "ta").join(F.broadcast(mb), "tb")
    nn, sa, sb = F.col("nna"), F.col("sa"), F.col("sb")
    num = (
        nn * nn * F.col("cab")
        - nn * sa * F.col("stb")
        - nn * sb * F.col("sha")
        + F.col("m") * sa * sb
    )
    den = nn * F.sqrt(
        (nn * F.col("qa") - sa * sa)
        * F.lit(1.0)
        * (F.col("nnb") * F.col("qb") - sb * sb)
    )
    return j.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("k").cast("long").alias("lag"),
        F.col("m").cast("long").alias("n_terms"),
        F.round(num / den, 6).alias("ccf"),
    )


@query(
    "ts_granger",
    category="E.window",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
gh AS (SELECT h, row_number() OVER (ORDER BY h) AS t FROM grid),
c AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1, 2),
series AS (
  SELECT ty.event_type, gh.t, coalesce(c.n, 0) AS x
  FROM (SELECT DISTINCT event_type FROM events) ty
  CROSS JOIN gh
  LEFT JOIN c ON c.event_type = ty.event_type AND c.h = gh.h
),
obs AS (
  SELECT y.event_type AS eff, a.event_type AS cause,
         y.x AS yv, l.x AS x1, a.x AS x2
  FROM series y
  JOIN series l ON l.event_type = y.event_type AND l.t = y.t - 1
  JOIN series a ON a.event_type <> y.event_type AND a.t = y.t - 1
),
mo AS (
  SELECT eff, cause, count(*)::DOUBLE AS m,
         sum(yv)::DOUBLE AS sy, sum(x1)::DOUBLE AS s1,
         sum(x2)::DOUBLE AS s2,
         sum(yv * yv)::DOUBLE AS syy, sum(x1 * yv)::DOUBLE AS p1,
         sum(x2 * yv)::DOUBLE AS p2, sum(x1 * x1)::DOUBLE AS q11,
         sum(x1 * x2)::DOUBLE AS q12, sum(x2 * x2)::DOUBLE AS q22
  FROM obs GROUP BY 1, 2
),
fit AS (
  SELECT eff, cause, m, syy, sy, p1, p2,
         (m * p1 - s1 * sy) / (m * q11 - s1 * s1) AS phir,
         m * (q11 * q22 - q12 * q12)
           - s1 * (s1 * q22 - q12 * s2)
           + s2 * (s1 * q12 - q11 * s2) AS det,
         sy * (q11 * q22 - q12 * q12)
           - s1 * (p1 * q22 - q12 * p2)
           + s2 * (p1 * q12 - q11 * p2) AS detc,
         m * (p1 * q22 - q12 * p2)
           - sy * (s1 * q22 - q12 * s2)
           + s2 * (s1 * p2 - p1 * s2) AS det1,
         m * (q11 * p2 - p1 * q12)
           - s1 * (s1 * p2 - p1 * s2)
           + sy * (s1 * q12 - q11 * s2) AS det2,
         s1, s2
  FROM mo
),
rss AS (
  SELECT eff, cause, m,
         syy - ((sy - phir * s1) / m) * sy - phir * p1 AS rss_r,
         syy - (detc / det) * sy - (det1 / det) * p1
             - (det2 / det) * p2 AS rss_u,
         det2 / det AS beta
  FROM fit
)
SELECT eff AS effect_type, cause AS cause_type, m::BIGINT AS n_obs,
       round(beta, 6) AS beta,
       round((rss_r - rss_u) * (m - 3) / rss_u, 6) AS f_stat
FROM rss
""",
)
def ts_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality screen between event types: for every ordered
    pair (cause → effect), compare the AR(1) model of the effect's
    hourly series with and without the cause's lagged value —
    F = (RSS_r − RSS_u)(m−3)/RSS_u — the lead-lag DETECTOR that turns
    ts_cross_corr's correlations into a directional hypothesis test
    (the workload behind 'did views drive purchases'). Same scale
    shape as the grid family: one hourly partial agg over raw events,
    then all regressions run on per-pair MOMENT rows (the stat_linreg /
    ml_ridge_normal sufficient-statistics discipline — both the
    2-parameter restricted fit and the 3-parameter Cramer solve are
    closed forms over Σy, Σx, Σxy, …, so 'fit 2 models per pair' costs
    20 rows of arithmetic, not 20 regressions). Moments are EXACT
    integers cast to double (≤2^53); every downstream op is mirrored
    operand-for-operand in the oracle; RSS uses the normal-equations
    identity RSS = Σy² − ŵ·X'y (no per-row residual pass)."""
    ev = Tables(spark, sf_dir).events
    gh = hour_grid(ev).select(
        "h", F.row_number().over(Window.orderBy("h")).alias("t")
    )
    types = ev.select("event_type").distinct()
    series = (
        hourly_counts(ev, "event_type", grid=types.crossJoin(gh), name="x")
        .select("event_type", "t", "x")
        .cache()  # three self-join arms
    )
    y, l, a = series.alias("y"), series.alias("l"), series.alias("a")
    obs = (
        y.join(
            l,
            (F.col("l.event_type") == F.col("y.event_type"))
            & (F.col("l.t") == F.col("y.t") - 1),
        )
        .join(
            a,
            (F.col("a.event_type") != F.col("y.event_type"))
            & (F.col("a.t") == F.col("y.t") - 1),
        )
        .select(
            F.col("y.event_type").alias("eff"),
            F.col("a.event_type").alias("cause"),
            F.col("y.x").alias("yv"),
            F.col("l.x").alias("x1"),
            F.col("a.x").alias("x2"),
        )
    )
    yv, x1, x2 = F.col("yv"), F.col("x1"), F.col("x2")
    mo = obs.groupBy("eff", "cause").agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum(yv).cast("double").alias("sy"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(yv * yv).cast("double").alias("syy"),
        F.sum(x1 * yv).cast("double").alias("p1"),
        F.sum(x2 * yv).cast("double").alias("p2"),
        F.sum(x1 * x1).cast("double").alias("q11"),
        F.sum(x1 * x2).cast("double").alias("q12"),
        F.sum(x2 * x2).cast("double").alias("q22"),
    )
    m, sy, s1, s2 = F.col("m"), F.col("sy"), F.col("s1"), F.col("s2")
    syy, p1, p2 = F.col("syy"), F.col("p1"), F.col("p2")
    q11, q12, q22 = F.col("q11"), F.col("q12"), F.col("q22")
    fit = mo.select(
        "eff",
        "cause",
        "m",
        "syy",
        "sy",
        "p1",
        "p2",
        "s1",
        "s2",
        # try_divide on every ratio below: a constant/collinear design
        # (possible on a shrunken grid) zeroes this denominator or det;
        # DuckDB's x/0 → NULL propagates to NULL beta/f_stat — mirrored
        F.try_divide(m * p1 - s1 * sy, m * q11 - s1 * s1).alias("phir"),
        (
            m * (q11 * q22 - q12 * q12)
            - s1 * (s1 * q22 - q12 * s2)
            + s2 * (s1 * q12 - q11 * s2)
        ).alias("det"),
        (
            sy * (q11 * q22 - q12 * q12)
            - s1 * (p1 * q22 - q12 * p2)
            + s2 * (p1 * q12 - q11 * p2)
        ).alias("detc"),
        (
            m * (p1 * q22 - q12 * p2)
            - sy * (s1 * q22 - q12 * s2)
            + s2 * (s1 * p2 - p1 * s2)
        ).alias("det1"),
        (
            m * (q11 * p2 - p1 * q12)
            - s1 * (s1 * p2 - p1 * s2)
            + sy * (s1 * q12 - q11 * s2)
        ).alias("det2"),
    )
    phir, det = F.col("phir"), F.col("det")
    rss_r = syy - ((sy - phir * s1) / m) * sy - phir * p1
    rss_u = (
        syy
        - F.try_divide(F.col("detc"), det) * sy
        - F.try_divide(F.col("det1"), det) * p1
        - F.try_divide(F.col("det2"), det) * p2
    )
    beta = F.try_divide(F.col("det2"), det)
    return fit.select(
        F.col("eff").alias("effect_type"),
        F.col("cause").alias("cause_type"),
        m.cast("long").alias("n_obs"),
        F.round(beta, 6).alias("beta"),
        F.round(F.try_divide((rss_r - rss_u) * (m - 3), rss_u), 6).alias(
            "f_stat"
        ),
    )


@query(
    "stat_levene",
    category="D.agg",
    oracle="""
WITH v AS (
  SELECT l_returnflag AS flag,
         floor(l_extendedprice * 100 + 0.5)::BIGINT AS cents, count(*) AS c
  FROM lineitem GROUP BY 1, 2
),
r AS (
  SELECT flag, cents, c,
         sum(c) OVER (PARTITION BY flag ORDER BY cents) AS cum,
         sum(c) OVER (PARTITION BY flag) AS n
  FROM v
),
med AS (
  SELECT flag,
         round((sum(CASE WHEN cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum
                         THEN cents ELSE 0 END) * 1.0
                / 100 / count(*) FILTER (WHERE cum - c < (n + 1) // 2
                                           AND (n + 1) // 2 <= cum)
                + sum(CASE WHEN cum - c < (n + 2) // 2 AND (n + 2) // 2 <= cum
                           THEN cents ELSE 0 END) * 1.0
                  / 100 / count(*) FILTER (WHERE cum - c < (n + 2) // 2
                                             AND (n + 2) // 2 <= cum)) / 2, 6)
           AS m
  FROM r GROUP BY 1
),
z AS (
  SELECT l.l_returnflag AS flag,
         abs(l.l_extendedprice::DECIMAL(18,2)
             - med.m::DECIMAL(18,6))::DECIMAL(18,6) AS z
  FROM lineitem l JOIN med ON l.l_returnflag = med.flag
),
g AS (
  SELECT flag, count(*) AS ng, sum(z) AS sz,
         sum(z::DECIMAL(19,6) * z::DECIMAL(19,6)) AS szz
  FROM z GROUP BY 1
),
tot AS (
  SELECT count(*) AS k, sum(ng) AS n, sum(sz) AS st, sum(szz) AS stt
  FROM g
),
parts AS (
  SELECT tot.k, tot.n, tot.st::DOUBLE AS st, tot.stt::DOUBLE AS stt,
         list((g.sz::DOUBLE / g.ng) * (g.sz::DOUBLE / g.ng) * g.ng
              ORDER BY g.flag) AS lgb
  FROM g, tot GROUP BY 1, 2, 3, 4
)
SELECT k::BIGINT AS k, n::BIGINT AS n,
       round(((list_sum(lgb) - st * st / n) / (k - 1))
             / ((stt - list_sum(lgb)) / (n - k)), 6) AS f_stat
FROM parts
""",
)
def stat_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-equality test across return flags (the
    robust Levene variant: one-way ANOVA on |x − group MEDIAN|) — the
    gate that decides whether pooled-variance tests (stat_welch_t's
    cheaper siblings) are even admissible, and a drift screen for
    SPREAD changes the mean-based screens miss. The group medians are
    exact: prices collapse to integer CENTS at value level (one partial
    agg), a per-flag cumulative window walks the value histogram, and
    the middle rank(s) select by integer comparison — the stat_theilsen
    selection idea on the value domain, no row sort anywhere. |x − med|
    is then an exact decimal (2-dp price vs 6-dp median), so the ANOVA
    sums (Σz as DECIMAL, Σz² as DECIMAL(38,12)) are fold-order-free;
    SSB/SSW come from the grouped-sums identity (Σ n_g·z̄_g² − (Σz)²/n
    and total − between) with mirrored double ops and one rounded
    division. Two scans of lineitem (median pass + residual pass) — at
    100 TB the value-level first pass is the whole cost.

    Round-13: fan_out_scan A/B'd here and REJECTED (both full-width and
    2-column-projected variants lost ~10-15%, 5 alternations) — the cost
    is the flag-partitioned cumulative windows over the ~580k-row cents
    histogram (prices are ~97% unique), which repartitioning the scan
    cannot parallelize; the map passes it would parallelize are thin."""
    li = Tables(spark, sf_dir).lineitem
    v = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        # half-up cents: Spark double->long CAST truncates while DuckDB
        # ::BIGINT rounds half-even, so the bare cast is a latent
        # divergence for any price whose *100 float rep lands below the
        # integer; floor(x*100 + 0.5) is the repo's _micro idiom, an
        # identical pure-double op on both engines (round-12 x1e-5 axis)
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.partitionBy("flag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("flag")
    r = v.select(
        "flag",
        "cents",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    k1 = F.floor((F.col("n") + 1) / 2)
    k2 = F.floor((F.col("n") + 2) / 2)
    hit1 = (F.col("cum") - F.col("c") < k1) & (k1 <= F.col("cum"))
    hit2 = (F.col("cum") - F.col("c") < k2) & (k2 <= F.col("cum"))
    pick = lambda hit: (  # noqa: E731
        F.sum(F.when(hit, F.col("cents")).otherwise(0)) * F.lit(1.0)
        / 100
        / F.sum(F.when(hit, 1).otherwise(0))
    )
    med = r.groupBy("flag").agg(
        F.round((pick(hit1) + pick(hit2)) / 2, 6).alias("m")
    )
    z = li.join(F.broadcast(med), li["l_returnflag"] == med["flag"]).select(
        "flag",
        # 18,6 (was 13,6): |x − med| reaches ~1e9 at the ×1e5 magnitude
        # envelope, past 13,6's 1e7 cap; 18,6 keeps z*z at p1+p2+1 =
        # 37 ≤ 38 so the 12-dp product scale survives Spark's precision
        # cap un-truncated.
        F.abs(
            F.col("l_extendedprice").cast("decimal(18,2)")
            - F.col("m").cast("decimal(18,6)")
        )
        .cast("decimal(18,6)")
        .alias("z"),
    )
    g = z.groupBy("flag").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("z").alias("sz"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(38,12)")).alias("szz"),
    )
    one = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sz").cast("double").alias("st"),
        F.sum("szz").cast("double").alias("stt"),
        F.sort_array(
            F.collect_list(F.struct(F.col("flag"), F.col("ng"), F.col("sz")))
        ).alias("arr"),
    )
    term = lambda s: (  # noqa: E731
        (s.getField("sz").cast("double") / s.getField("ng"))
        * (s.getField("sz").cast("double") / s.getField("ng"))
        * s.getField("ng")
    )
    gb = fsum(F.transform(F.col("arr"), term))
    kk, nn = F.col("k"), F.col("n")
    # empty-input grain (round-10 sweep): zero groups → no test row,
    # matching the oracle's GROUP BY parts CTE (which emits nothing
    # over an empty g); k >= 1 on any non-empty input so this filter
    # is a no-op otherwise
    one = one.filter(F.col("k") > 0)
    return one.select(
        kk.cast("long").alias("k"),
        nn.cast("long").alias("n"),
        # try_divide at every zero-able step: constant values (SSW = 0),
        # a single group (k = 1), or all-singleton groups (n = k) —
        # ANSI `/` throws at each, DuckDB yields NULL and propagates it
        # (constant-fixture audit). /nn is safe (n >= 1).
        F.round(
            F.try_divide(
                F.try_divide(gb - F.col("st") * F.col("st") / nn, kk - 1),
                F.try_divide(F.col("stt") - gb, nn - kk),
            ),
            6,
        ).alias("f_stat"),
    )


@query(
    "ts_ljungbox",
    category="E.window",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
c AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1),
series AS (
  SELECT row_number() OVER (ORDER BY g.h) AS t, coalesce(c.n, 0) AS x
  FROM grid g LEFT JOIN c ON g.h = c.h
),
tot AS (SELECT count(*) AS nn, sum(x) AS s, sum(x * x) AS q FROM series),
rho AS (
  SELECT k.lag AS k,
         round((tot.nn::DOUBLE * tot.nn::DOUBLE * sum(a.x * b.x)::DOUBLE
                - tot.nn::DOUBLE * tot.s::DOUBLE
                  * (sum(a.x)::DOUBLE + sum(b.x)::DOUBLE)
                + (tot.nn - k.lag)::DOUBLE * tot.s::DOUBLE * tot.s::DOUBLE)
               / (tot.nn::DOUBLE * tot.nn::DOUBLE * tot.q::DOUBLE
                  - tot.nn::DOUBLE * tot.s::DOUBLE * tot.s::DOUBLE),
               6) AS r
  FROM series a
  CROSS JOIN (SELECT unnest(range(1, 13)) AS lag) k
  JOIN series b ON b.t = a.t + k.lag
  CROSS JOIN tot
  GROUP BY 1, tot.nn, tot.s, tot.q
),
terms AS (
  SELECT k, r * r / (tot.nn - k) AS term FROM rho, tot
),
q AS (
  -- HAVING mirrors Spark's GROUP BY nn: when the lag join is empty
  -- (0-row / too-short series) neither engine emits a test row
  SELECT list_reduce(list_prepend(0.0, list(term ORDER BY k)),
                     (s, x) -> s + x) AS acc
  FROM terms HAVING count(*) > 0
)
SELECT tot.nn::BIGINT AS n, 12::BIGINT AS h,
       round(tot.nn * (tot.nn + 2) * q.acc, 6) AS q_stat,
       tot.nn * (tot.nn + 2) * q.acc > 21.026 AS reject_iid
FROM q, tot
""",
)
def ts_ljungbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the global hourly event-count
    series — "is this series white noise?", the standard residual
    diagnostic after any forecast fit (ts_backtest's models) and a
    drift gate for event-rate telemetry: Q = n(n+2)·Σ_{k≤12} ρ_k²/(n−k)
    against the χ²₁₂ 95% critical value (literal 21.026). Reuses
    ts_acf_multi's machinery end-to-end: densified calendar grid
    (~720 rows), lag self-join ON THE GRID not the events, every ρ_k
    from the same ×N² moment identity (exact integer sums, combine in
    identical doubles — nn²·ck outgrows int64 near sf10) rounded to
    6 dp; the Σ
    over k is a k-ordered left fold (stat_entropy pattern) so the
    12-term double sum is fold-order-free; one heavy shuffle total
    (the hourly partial agg). The verdict boolean compares identical
    doubles on both engines — decision-in-doubles is safe because the
    operands are bit-identical, the ARCHITECTURE §4 rule."""
    ev = Tables(spark, sf_dir).events
    series = (
        hourly_counts(ev, name="x")
        .select(F.row_number().over(Window.orderBy("h")).alias("t"), "x")
        .cache()  # feeds tot + 12-lag self-join (ReuseExchange trap)
    )
    tot = series.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    lags = spark.range(1, 13).select(F.col("id").alias("k"))
    a, b = series.alias("a"), series.alias("b")
    rho = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.t") == F.col("a.t") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.col("a.x") * F.col("b.x")).alias("ck"),
            F.sum(F.col("a.x")).alias("sh"),
            F.sum(F.col("b.x")).alias("st"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "nn",
            # moments stay exact integer sums; the ×N² combine runs in
            # DOUBLES on both engines (the stat_spearman discipline) —
            # nn²·ck passes int64 around sf10 where Spark would wrap
            # silently while DuckDB errors (round-7 ADVICE). Identical
            # IEEE op sequence on identical operands → still bit-exact.
            F.round(
                (
                    F.col("nn").cast("double")
                    * F.col("nn").cast("double")
                    * F.col("ck").cast("double")
                    - F.col("nn").cast("double")
                    * F.col("s").cast("double")
                    * (
                        F.col("sh").cast("double")
                        + F.col("st").cast("double")
                    )
                    + (F.col("nn") - F.col("k")).cast("double")
                    * F.col("s").cast("double")
                    * F.col("s").cast("double")
                )
                / (
                    F.col("nn").cast("double")
                    * F.col("nn").cast("double")
                    * F.col("q").cast("double")
                    - F.col("nn").cast("double")
                    * F.col("s").cast("double")
                    * F.col("s").cast("double")
                ),
                6,
            ).alias("r"),
        )
    )
    terms = rho.select(
        "k",
        "nn",
        (F.col("r") * F.col("r") / (F.col("nn") - F.col("k"))).alias("term"),
    )
    fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("k", "term"))),
            lambda e: e.getField("term"),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    agg = terms.groupBy("nn").agg(fold.alias("acc"))
    qexpr = F.col("nn") * (F.col("nn") + 2) * F.col("acc")
    return agg.select(
        F.col("nn").cast("long").alias("n"),
        F.lit(12).cast("long").alias("h"),
        F.round(qexpr, 6).alias("q_stat"),
        (qexpr > 21.026).alias("reject_iid"),
    )


@query(
    "stat_wilcoxon",
    category="D.agg",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         sum(CASE WHEN event_type = 'purchase'
                  THEN value::DECIMAL(18,2) ELSE 0 END) AS sp,
         sum(CASE WHEN event_type = 'view'
                  THEN value::DECIMAL(18,2) ELSE 0 END) AS sv
  FROM events GROUP BY 1
),
diff AS (
  SELECT d, sp - sv AS dv, abs(sp - sv) AS av
  FROM daily WHERE sp <> sv
),
ranked AS (
  SELECT dv,
         2 * rank() OVER (ORDER BY av)
           + count(*) OVER (PARTITION BY av) - 1 AS r2
  FROM diff
),
s AS (
  SELECT count(*) AS n,
         sum(CASE WHEN dv > 0 THEN r2 ELSE 0 END)::BIGINT AS w2p,
         sum(CASE WHEN dv < 0 THEN r2 ELSE 0 END)::BIGINT AS w2m
  FROM ranked
)
SELECT n::BIGINT AS n_days, w2p, w2m,
       round((w2p - n * (n + 1) // 2)
             / sqrt((n * (n + 1) * (2 * n + 1) / 6.0)), 6) AS z,
       abs((w2p - n * (n + 1) // 2)
           / sqrt((n * (n + 1) * (2 * n + 1) / 6.0))) > 1.96 AS significant
FROM s
""",
)
def stat_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test: does daily purchase revenue differ
    systematically from daily view engagement value? The
    nonparametric PAIRED test (the matched-samples member of the rank
    family next to stat_mannwhitney's two-sample U): per calendar day,
    d = Σpurchase − Σview in exact decimal cents; zero diffs drop per
    the standard procedure; |d| is ranked with the doubled-midrank
    trick (2·rank + tiecount − 1, integer-exact); W⁺/W⁻ are integer
    sums over the sign of d, and the normal-approximation z keeps
    every operand integer until one division by one sqrt — identical
    doubles on both engines, 6-dp rounded, decision at the 1.96
    two-sided literal. Scale: the heavy work is ONE daily partial-agg
    shuffle; the rank window runs on the ~30-row daily aggregate."""
    ev = Tables(spark, sf_dir).events
    dval = F.col("value").cast("decimal(18,2)")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", dval).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )).alias("sp"),
        F.sum(F.when(F.col("event_type") == "view", dval).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )).alias("sv"),
    )
    diff = daily.filter(F.col("sp") != F.col("sv")).select(
        (F.col("sp") - F.col("sv")).alias("dv"),
        F.abs(F.col("sp") - F.col("sv")).alias("av"),
    )
    wr = Window.orderBy("av")
    wc = Window.partitionBy("av")
    ranked = diff.select(
        "dv",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wc) - 1).alias("r2"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("dv") > 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("w2p"),
        F.sum(F.when(F.col("dv") < 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("w2m"),
    )
    n = F.col("n")
    znum = F.col("w2p") - F.floor(n * (n + 1) / 2)
    zden = F.sqrt(n * (n + 1) * (2 * n + 1) / F.lit(6.0))
    return s.select(
        n.cast("long").alias("n_days"),
        "w2p",
        "w2m",
        F.round(znum / zden, 6).alias("z"),
        (F.abs(znum / zden) > 1.96).alias("significant"),
    )


@query(
    "stat_friedman",
    category="D.agg",
    oracle="""
WITH cell AS (
  SELECT date_trunc('day', ts) AS d, event_type,
         sum(value::DECIMAL(18,2)) AS s
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT d, event_type,
         2 * rank() OVER (PARTITION BY d ORDER BY s)
           + count(*) OVER (PARTITION BY d, s) - 1 AS r2
  FROM cell
),
rsum AS (
  SELECT event_type, sum(r2)::BIGINT AS r2sum, count(*)::BIGINT AS n
  FROM ranked GROUP BY 1
),
tot AS (SELECT max(n) AS n, count(*) AS k FROM rsum),
agg AS (
  SELECT tot.n, tot.k,
         sum((r2sum - tot.n * (tot.k + 1))
             * (r2sum - tot.n * (tot.k + 1))) AS ss
  FROM rsum, tot GROUP BY tot.n, tot.k
)
SELECT n::BIGINT AS n_blocks, k::BIGINT AS k,
       round(3.0 * ss / (n * k * (k + 1)), 6) AS q_stat,
       3.0 * ss / (n * k * (k + 1)) > 9.488 AS reject_equal
FROM agg
""",
)
def stat_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the k-sample repeated-measures rank test that
    completes the nonparametric family (mannwhitney: two independent
    samples; wilcoxon: two paired; friedman: k paired): do the five
    event types draw systematically different daily value, with each
    DAY acting as its own matched block (so day-level traffic shifts
    cancel instead of confounding, the reason to prefer this over
    one-way ANOVA on drifting telemetry)? Within each day the k=5
    exact-decimal daily sums are ranked with doubled midranks
    (integer), per-treatment rank sums R2_j are integer aggregates,
    and with R_j = R2_j/2 the classic statistic reduces to
    Q = 3·Σ(R2_j − n(k+1))² / (n·k·(k+1)) — integer numerator and
    denominator, ONE double division, 6-dp round, decision at the
    χ²₄ 95% literal. One events shuffle (the daily cell agg); the
    rank windows run on the 150-row cell table."""
    ev = Tables(spark, sf_dir).events
    cell = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
    wr = Window.partitionBy("d").orderBy("s")
    wc = Window.partitionBy("d", "s")
    ranked = cell.select(
        "event_type",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wc) - 1).alias("r2"),
    )
    rsum = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("r2sum"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    wall = Window.partitionBy()
    dev = F.col("r2sum") - F.max("n").over(wall) * (
        F.count(F.lit(1)).over(wall) + 1
    )
    agg = rsum.select(
        F.max("n").over(wall).alias("n"),
        F.count(F.lit(1)).over(wall).alias("k"),
        dev.alias("dev"),
    ).groupBy("n", "k").agg(F.sum(F.col("dev") * F.col("dev")).alias("ss"))
    q = F.lit(3.0) * F.col("ss") / (F.col("n") * F.col("k") * (F.col("k") + 1))
    return agg.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.col("k").cast("long").alias("k"),
        F.round(q, 6).alias("q_stat"),
        (q > 9.488).alias("reject_equal"),
    )


@query(
    "ts_kalman",
    category="E.window",
    oracle="""
WITH RECURSIVE series AS (
  SELECT user_id, value::DOUBLE AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
),
kf AS (
  SELECT user_id, 1::BIGINT AS i, x AS m, 1.0::DOUBLE AS p
  FROM series WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.i,
         k.m + (k.p + 1.0) / (k.p + 1.0 + 4.0) * (s.x - k.m),
         (1.0 - (k.p + 1.0) / (k.p + 1.0 + 4.0)) * (k.p + 1.0)
  FROM kf k JOIN series s ON s.user_id = k.user_id AND s.i = k.i + 1
),
last AS (SELECT user_id, max(i) AS n FROM kf GROUP BY 1)
SELECT k.user_id, last.n::BIGINT AS n_events,
       k.m AS level_filtered, k.p AS p_last
FROM kf k JOIN last ON k.user_id = last.user_id AND k.i = last.n
""",
)
def ts_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (local-level model, process noise q = 1,
    measurement noise r = 4) over each user's value series — the
    optimal-filtering sibling of ts_ewma whose smoothing weight ADAPTS:
    the gain K_t = (p+q)/(p+q+r) starts high (uncertain prior) and
    settles to the steady state, unlike the fixed α ladder. Per step:
    predict p⁻ = p + q; gain K = p⁻/(p⁻+r); update m += K·(x−m),
    p = (1−K)·p⁻. State is an (m, p) struct fold over the
    (ts, event_id)-ordered list (the ts_holt machinery verbatim);
    bit-exactness needs no rounding because both engines run the
    textually identical op sequence — including the division, whose
    operands are identical doubles (ARCHITECTURE §4). Oracle: recursive
    CTE (multi-field list_reduce corruption trap). One user_id shuffle;
    streaming form carries (m, p) in applyInPandasWithState. NULL
    contract: series = non-null observations of a non-null entity
    (ts_cusum note)."""
    ev = Tables(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    vals = F.transform(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda e: e.getField("value").cast("double"),
    )
    seed = F.struct(
        F.element_at(vals, 1).alias("m"), F.lit(1.0).alias("p")
    )

    def step(s, x):
        pm = s.getField("p") + F.lit(1.0)
        gain = pm / (pm + F.lit(4.0))
        return F.struct(
            (s.getField("m") + gain * (x - s.getField("m"))).alias("m"),
            ((F.lit(1.0) - gain) * pm).alias("p"),
        )

    st = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        seed,
        step,
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        st.getField("m").alias("level_filtered"),
        st.getField("p").alias("p_last"),
    )


@query(
    "ts_changepoint_binseg",
    category="E.window",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
  FROM events
),
grid AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
         FROM bounds),
c AS (SELECT date_trunc('day', ts) AS d, count(*) AS x
      FROM events GROUP BY 1),
series AS (
  SELECT row_number() OVER (ORDER BY g.d) AS t, g.d,
         coalesce(c.x, 0) AS x
  FROM grid g LEFT JOIN c ON g.d = c.d
),
pre AS (
  SELECT t, d, x,
         sum(x) OVER (ORDER BY t) AS sl,
         count(*) OVER (ORDER BY t) AS nl
  FROM series
),
tot AS (SELECT sum(x) AS s, count(*) AS n FROM series),
cand AS (
  SELECT p.t AS split_t, p.d AS split_d, p.sl, p.nl,
         tot.s - p.sl AS sr, tot.n - p.nl AS nr, tot.s, tot.n,
         round(p.sl * p.sl * 1.0 / p.nl
               + (tot.s - p.sl) * (tot.s - p.sl) * 1.0 / (tot.n - p.nl)
               - tot.s * tot.s * 1.0 / tot.n, 6) AS reduction
  FROM pre p, tot
  WHERE p.nl < tot.n
)
SELECT epoch(split_d)::BIGINT AS split_after_s,
       nl::BIGINT AS n_pre, nr::BIGINT AS n_post,
       round(sl * 1.0 / nl, 6) AS mean_pre,
       round(sr * 1.0 / nr, 6) AS mean_post,
       reduction
FROM cand
QUALIFY row_number() OVER (ORDER BY reduction DESC, split_t) = 1
""",
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CHANGEPOINT LOCALIZATION — the first split of binary
    segmentation: over the densified daily event-count series, find
    the boundary that maximizes the between-segment SSE reduction
    S_L²/n_L + S_R²/n_R − S²/n (the classic mean-shift objective; each
    further binseg level would recurse into the halves). Complements
    ``ts_cusum``: CUSUM is the ONLINE sequential alarm, this is the
    batch localizer you run after the alarm fired to date the shift.
    Everything derives from one daily prefix-sum window over the
    ~30-row calendar grid (integer S_L/n_L exact in doubles far below
    2⁵³, so the reduction is identical doubles on both engines →
    6-dp-round + split-index-tiebreak argmax, the SURVEY §5.2 recipe).
    One events shuffle (the daily agg); candidate evaluation is
    calendar-bounded at any SF."""
    ev = Tables(spark, sf_dir).events
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("d")
    )
    c = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wt = Window.orderBy("d")
    wrun = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    series = (
        grid.join(c, "d", "left")
        .select("d", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
        .withColumn("t", F.row_number().over(wt))
        # cache: the ≤|days|-row daily series feeds the prefix-sum AND
        # total branches — uncached, the corpus day-count pass plans
        # twice (the duplicated-subtree trap)
        .cache()
    )
    pre = series.select(
        "t",
        "d",
        F.sum("x").over(wrun).alias("sl"),
        F.count(F.lit(1)).over(wrun).alias("nl"),
    )
    tot = series.agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    sl, nl = F.col("sl"), F.col("nl")
    s, n = F.col("s"), F.col("n")
    sr, nr = s - sl, n - nl
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .filter(nl < n)
        .select(
            "t",
            "d",
            nl.alias("nl"),
            nr.alias("nr"),
            sl.alias("sl"),
            sr.alias("sr"),
            F.round(
                sl * sl * F.lit(1.0) / nl
                + sr * sr * F.lit(1.0) / nr
                - s * s * F.lit(1.0) / n,
                6,
            ).alias("reduction"),
        )
    )
    return (
        cand.orderBy(F.desc("reduction"), F.asc("t"))
        .limit(1)
        .select(
            F.unix_seconds("d").alias("split_after_s"),
            F.col("nl").cast("long").alias("n_pre"),
            F.col("nr").cast("long").alias("n_post"),
            F.round(F.col("sl") * F.lit(1.0) / F.col("nl"), 6).alias("mean_pre"),
            F.round(F.col("sr") * F.lit(1.0) / F.col("nr"), 6).alias("mean_post"),
            "reduction",
        )
    )
