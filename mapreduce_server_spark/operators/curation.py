"""Corpus-curation operators: deterministic sampling and repetition stats.

These extend the north-star training-data surface (SURVEY.md §2 cat. J)
with the sampling/reweighting and repetition-filter stages a pretraining
pipeline runs between dedup and packing:

- ``sample_hash``    — reproducible Bernoulli sampling by key hash.
- ``sample_mixture`` — per-language mixture reweighting (downsample
  over-represented slices to a target rate), same hash trick.
- ``text_repetition``— Gopher-style repetition metrics (duplicate-token
  fraction, top-bigram mass) per document; the repetition filter's input.

Hash-based sampling beats ``df.sample`` for pipelines: the keep/drop
decision is a pure function of the stable key (never the partition
layout, seed plumbing, or engine), so reruns, backfills, and engine swaps
select the same rows — which also makes it exactly oracle-checkable,
unlike RNG sampling (``agg_sample`` stays rows-only for that reason).

Scale: every operator here is one scan + narrow per-row work (md5 of the
key, token stats); ``text_repetition`` adds one explode + partial-agg
shuffle keyed by (doc_id, bigram) — the same shape as wordcount, and the
per-doc key bounds any skew by document length, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import Memo
from ..functions.hashing import md5_int
from ..registry import query
from ..sources.loader import Tables, fan_out_scan


def hash_bucket(key: F.Column) -> F.Column:
    """First md5 hex byte of the stringified key — a uniform, engine-portable
    2-hex-digit bucket ('00'..'ff'); compare lexicographically to keep a
    k/256 fraction. Same discipline as split_deterministic."""
    return F.substring(F.md5(key.cast("string").cast("binary")), 1, 2)


@query(
    "sample_hash",
    category="J.pipeline",
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE substring(md5(doc_id::VARCHAR), 1, 2) < '1a'
""",
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample ('1a' = 26/256 ≈ 10.2%): the kept
    set is a pure function of doc_id, so it is stable across runs, engines
    and cluster sizes — the property a training-data pipeline needs for
    reproducible ablations and that RNG-based sample() cannot give. The
    filter is a narrow per-row predicate: no shuffle, pushdown-friendly
    scan, embarrassingly parallel at any scale."""
    d = Tables(spark, sf_dir).documents
    return d.filter(hash_bucket(F.col("doc_id")) < "1a").select(
        "doc_id", "lang", "source"
    )


@query(
    "sample_mixture",
    category="J.pipeline",
    oracle="""
WITH b AS (
  SELECT lang, source,
         substring(md5(doc_id::VARCHAR), 1, 2) AS hx
  FROM documents
)
SELECT lang,
       count(*) AS n_total,
       count(*) FILTER (WHERE hx < CASE WHEN lang = 'en' THEN 'cd' ELSE '4d' END)
         AS n_kept
FROM b GROUP BY lang
""",
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting: keep ~80% of 'en' ('cd' = 205/256) and ~30% of
    every other language ('4d' = 77/256) — the standard downsample step
    that shapes a corpus toward target domain/language proportions.
    Per-row hash decision (no shuffle beyond the final small agg); the
    per-language counts make the realized mixture auditable."""
    d = Tables(spark, sf_dir).documents
    hx = hash_bucket(F.col("doc_id"))
    thresh = F.when(F.col("lang") == "en", F.lit("cd")).otherwise(F.lit("4d"))
    kept = F.when(hx < thresh, 1).otherwise(0)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept).alias("n_kept"),
    )


_TEMP_ORACLE = """
WITH c AS (
  SELECT lang, count(*)::BIGINT AS n_total FROM documents GROUP BY lang
),
tot AS (SELECT sum(n_total)::BIGINT AS n_corpus FROM c),
w AS (
  SELECT lang, n_total, n_corpus,
         sqrt(n_total::DOUBLE / n_corpus::DOUBLE) AS w
  FROM c, tot
),
ws AS (SELECT list_sum(list(w ORDER BY lang)) AS wsum FROM w),
pol AS (
  SELECT lang, n_total,
         round(w / wsum, 6) AS mix_share,
         floor(n_corpus::DOUBLE * (w / wsum) + 0.5)::BIGINT AS target_n
  FROM w, ws
),
pol2 AS (
  SELECT lang, n_total, mix_share, target_n,
         target_n // n_total AS n_repeat,
         floor(65536.0 * (target_n % n_total)::DOUBLE
               / n_total::DOUBLE)::BIGINT AS th
  FROM pol
),
extra AS (
  SELECT d.lang,
         count(*) FILTER (
           WHERE ('0x' || substr(md5('tmp:' || d.doc_id::VARCHAR), 1, 4))::BIGINT
                 < p.th
         )::BIGINT AS kept_extra
  FROM documents d JOIN pol2 p USING (lang)
  GROUP BY d.lang
)
SELECT p.lang, p.n_total, p.mix_share, p.target_n, p.n_repeat,
       e.kept_extra,
       (p.n_repeat * p.n_total + e.kept_extra)::BIGINT AS realized_n
FROM pol2 p JOIN extra e USING (lang)
"""


@query("sample_temperature", category="J.pipeline", oracle=_TEMP_ORACLE)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (the multilingual-pretraining
    standard: sample language i ∝ share_i^(1/T), T=2 here — mC4/XLM-R
    flatten skewed language distributions exactly this way). Unlike
    sample_mixture's FIXED thresholds, the policy is DERIVED FROM THE
    DATA in the same query: per-language counts → tempered weights →
    normalized mixture → integer target counts, then REALIZED as
    n_repeat full copies (upsampled rare languages) plus a fractional
    md5-threshold keep — every decision a pure function of (corpus
    stats, doc_id), so reruns and engine swaps resample identically.

    Float discipline: the only float stages are sqrt/divide/floor on
    IEEE doubles computed identically in both engines; the one
    order-sensitive reduction (the weight normalizer) folds in
    lang-sorted order on BOTH sides (F.aggregate over sort_array ≡
    DuckDB list_sum over list(ORDER BY lang)); targets then drop to
    integers via the floor(x+0.5) half-up identity before any further
    arithmetic.

    Scale shape: one partial-agg shuffle for the counts, a ≤|langs|-row
    policy frame broadcast back onto the scan (BroadcastHashJoin), one
    final |langs|-row agg. The policy math is constant-size; the corpus
    is touched by exactly two scans and zero wide shuffles."""
    d = Tables(spark, sf_dir).documents
    # cache: the ≤|langs|-row counts frame feeds the tempered-weight,
    # normalizer AND policy branches — uncached, each branch re-plans
    # the corpus count scan (5 scans total; the duplicated-subtree
    # trap, see sample_dsir / stat_mannwhitney)
    counts = (
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total")).cache()
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # tempered weight per language over the ≤|langs|-row grouped frame
    t = counts.select(
        "lang",
        "n_total",
        F.sum("n_total").over(w_all).alias("n_corpus"),
        F.sqrt(F.col("n_total") / F.sum("n_total").over(w_all)).alias("w"),
    )
    # normalizer: lang-ordered sequential fold (matches list_sum order)
    folded = t.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("lang", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s.w,
        ).alias("wsum")
    )
    p = F.col("w") / F.col("wsum")
    target = F.floor(F.col("n_corpus") * p + F.lit(0.5)).cast("long")
    pol = (
        t.crossJoin(F.broadcast(folded))
        .select(
            "lang",
            "n_total",
            F.round(p, 6).alias("mix_share"),
            target.alias("target_n"),
        )
        .select(
            "lang",
            "n_total",
            "mix_share",
            "target_n",
            F.expr("target_n div n_total").alias("n_repeat"),
            F.floor(
                F.lit(65536.0)
                * (F.col("target_n") % F.col("n_total"))
                / F.col("n_total")
            )
            .cast("long")
            .alias("th"),
        )
    )
    h16 = md5_int("tmp:", F.col("doc_id"), hex_digits=4)
    extra = (
        d.select("lang", h16.alias("h16"))
        .join(F.broadcast(pol.select("lang", "th")), "lang")
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("h16") < F.col("th"), 1).otherwise(0)).alias(
                "kept_extra"
            )
        )
    )
    return (
        pol.join(extra, "lang")
        .select(
            "lang",
            "n_total",
            "mix_share",
            "target_n",
            "n_repeat",
            "kept_extra",
            (F.col("n_repeat") * F.col("n_total") + F.col("kept_extra"))
            .cast("long")
            .alias("realized_n"),
        )
    )


@query(
    "text_repetition",
    category="J.text",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
s AS (
  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
  FROM t
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t WHERE len(toks) >= 2
),
topbg AS (
  SELECT doc_id, max(n) AS top_bigram_n
  FROM (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT s.doc_id,
       s.n_tokens,
       1.0 - s.n_distinct::DOUBLE / s.n_tokens AS dup_token_frac,
       2.0 * topbg.top_bigram_n / s.n_tokens AS top_bigram_frac
FROM s JOIN topbg USING (doc_id)
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document: duplicate-token
    fraction (1 − distinct/total) and the token mass of the single most
    frequent bigram (2·max_count/n_tokens) — the signals the Gopher/
    MassiveText repetition filter thresholds on. One scan computes token
    stats; the bigram mode is the wordcount shuffle keyed by
    (doc_id, bigram) then a per-doc max — both partial-aggregate
    map-side, so the shuffle carries only distinct per-doc bigrams.
    Float discipline: both fractions are one correctly-rounded double
    division of exact integers (plus one exact *2 / 1− step), so Spark
    and DuckDB agree bitwise. 1-token docs are excluded on both sides
    (no bigram ⇒ inner join drops them; sequence clamp per ADVICE r1)."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("toks"))
    stats = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    idx = F.sequence(F.lit(1), F.size(F.col("toks")) - 1)
    bigrams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    top = (
        base.where(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_bigram_n"))
    )
    return stats.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
            "dup_token_frac"
        ),
        (F.lit(2.0) * F.col("top_bigram_n") / F.col("n_tokens")).alias(
            "top_bigram_frac"
        ),
    )


@query(
    "text_pii_scrub",
    category="J.text",
    oracle="""
WITH c AS (
  SELECT doc_id, source,
         'contact user' || doc_id::VARCHAR || '@' || source || '.example.com or '
           || 'admin@' || source || '.example.org at 10.'
           || (doc_id % 256)::VARCHAR || '.0.' || ((doc_id * 7) % 256)::VARCHAR
           || ' re: ' || substr(text, 1, 40) AS contact
  FROM documents
),
s AS (
  SELECT doc_id, source, contact,
         len(regexp_extract_all(contact,
             '[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS n_emails,
         len(regexp_extract_all(contact,
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}(\\.[0-9]{1,3})?')) AS n_ips,
         regexp_replace(regexp_replace(contact,
             '[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}(\\.[0-9]{1,3})?', '<IP>', 'g')
           AS scrubbed
  FROM c
)
SELECT source,
       count(*) AS n_docs,
       sum(n_emails)::BIGINT AS emails_redacted,
       sum(n_ips)::BIGINT AS ips_redacted,
       sum(CASE WHEN scrubbed LIKE '%<EMAIL>%' THEN 1 ELSE 0 END)::BIGINT
         AS docs_with_email,
       min(len(scrubbed))::BIGINT AS min_len
FROM s GROUP BY source
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the curation stage every released training corpus
    runs (emails / IPs → placeholder tokens) — as pure JVM-side regex
    expressions: ``regexp_count`` for the audit tally and two chained
    ``regexp_replace`` for the scrub, all inside whole-stage codegen (no
    UDF), one scan, one small final agg. The fixture's synthetic text
    contains no PII, so the scrub target is a contact string constructed
    deterministically from (doc_id, source) — the regex machinery,
    per-source audit counts and placeholder invariants are the real
    deliverable and are exactly replayed by the DuckDB oracle (patterns
    restricted to the RE2 ∩ java.util.regex common subset: character
    classes, bounded reps — no lookaround, no backrefs).

    At 100 TB this is the embarrassingly-parallel map stage of
    pipeline_curation: no shuffle until the tiny audit agg, and the
    scrubbed column would be written back partitioned, not collected."""
    d = Tables(spark, sf_dir).documents
    email = r"[a-z0-9._%-]+@[a-z0-9.-]+\.[a-z]{2,}"
    ip = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}(\.[0-9]{1,3})?"
    contact = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example.com or admin@"),
        F.col("source"),
        F.lit(".example.org at 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" re: "),
        F.substring(F.col("text"), 1, 40),
    )
    s = d.select(
        "source",
        F.regexp_count(contact, F.lit(email)).alias("n_emails"),
        F.regexp_count(contact, F.lit(ip)).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(contact, email, "<EMAIL>"), ip, "<IP>"
        ).alias("scrubbed"),
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").cast("long").alias("emails_redacted"),
        F.sum("n_ips").cast("long").alias("ips_redacted"),
        F.sum(
            F.when(F.col("scrubbed").contains("<EMAIL>"), 1).otherwise(0)
        ).cast("long").alias("docs_with_email"),
        F.min(F.length("scrubbed")).cast("long").alias("min_len"),
    )


@query(
    "sample_stratified",
    category="J.pipeline",
    oracle="""
WITH counts AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type
FROM events e JOIN counts c USING (event_type)
WHERE ('0x' || substr(md5(e.event_id::VARCHAR), 1, 8))::BIGINT
      / 4294967296.0
      < least(1.0, 100.0 / c.n)
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: every stratum (event_type) is
    downsampled toward a fixed per-stratum target (~100 rows), i.e. the
    mixture-balancing step a training pipeline runs so over-represented
    slices don't dominate a training epoch. Per-stratum keep rate =
    min(1, target/n); the keep/drop decision hashes the stable row key
    (md5 fraction in [0,1), the sample_hash discipline at 32-bit
    resolution) so the sample is reproducible across runs, engines and
    partitionings — and therefore exactly oracle-checkable.

    Scale: one tiny agg (|strata| rows, map-side combined) broadcast
    back onto the scan; the filter itself is a narrow per-row predicate
    — no shuffle of the fact table, embarrassingly parallel. Expected
    stratum sample size concentrates at `target` by Chernoff; exact-k
    per stratum would need a per-stratum top-k by hash (win_rownum_topk
    shape) at one extra shuffle."""
    ev = Tables(spark, sf_dir).events
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    frac = md5_int(F.col("event_id")) / F.lit(4294967296.0)
    rate = F.least(F.lit(1.0), F.lit(100.0) / F.col("n"))
    return (
        ev.join(F.broadcast(counts), "event_type")
        .where(frac < rate)
        .select("event_id", "event_type")
    )


# --- coreset selection: Gonzalez farthest-point (k-center) over embeddings

K_CENTERS = 5  # coreset size (rounds = K_CENTERS - 1 after the seed)

#: selected centers per sf_dir: [(vec_id, micro-unit vector)], driver-tiny
_KCENTER_CACHE = Memo("kcenter")


def _kcenter_centers(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[int]]]:
    """Gonzalez (1985) farthest-point traversal in INTEGER MICRO-UNITS
    (the knn_ivf discipline — similarity._micro): seed = lowest vec_id,
    then K-1 rounds of "pick the vector maximizing its distance to the
    nearest selected center" (ties → lowest vec_id, already-selected ids
    excluded so all-zero-distance duplicate corpora stay well-defined).
    Every distance is an exact int64 fold, so the whole traversal is a
    pure integer function of the corpus that the oracle replays as
    unrolled CTEs.

    Scale shape: each round is ONE corpus scan + TakeOrderedAndProject
    (a 1-row collect — bounded, audited in tests/test_antipattern_lint);
    K passes total, the textbook Gonzalez cost. At 100 TB the
    escalation path is k-center oversampling (pick a capped md5-sampled
    candidate pool per round, the IVF_TRAIN_CAP discipline) — the
    2-approximation guarantee degrades gracefully with sample rate.

    Sub-K corpora early-stop (round-10 sweep): when a round's candidate
    set is empty (corpus ≤ centers selected) the traversal stops with
    the centers found — EXACTLY what the oracle's unrolled CTEs do,
    where the exhausted round's argmax CTE is empty and every later
    round stays empty (an empty corpus selects nothing). Memoized per
    sf_dir."""
    return _KCENTER_CACHE(sf_dir, lambda: _select_centers(spark, sf_dir))


def _select_centers(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[int]]]:
    from ..functions.vector import sq_dist_int_sql
    from .similarity import _micro

    e = Tables(spark, sf_dir).embeddings.select(
        "vec_id", _micro(F.col("embedding")).alias("vi")
    )
    seed_rows = e.orderBy("vec_id").limit(1).collect()
    if not seed_rows:
        return []
    seed = seed_rows[0]
    centers = [(int(seed[0]), [int(x) for x in seed[1]])]
    for _ in range(K_CENTERS - 1):
        dcols = [F.expr(sq_dist_int_sql("vi", c)) for _, c in centers]
        d = F.least(*dcols) if len(dcols) > 1 else dcols[0]
        sel_ids = [vid for vid, _ in centers]
        rows = (
            e.where(~F.col("vec_id").isin(sel_ids))
            .select("vec_id", "vi", d.alias("d"))
            .orderBy(F.desc("d"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not rows:  # candidate set exhausted (corpus < K)
            break
        row = rows[0]
        centers.append((int(row[0]), [int(x) for x in row[1]]))
    return centers


def _kcenter_oracle() -> str:
    """Unrolled-CTE replay of the full Gonzalez traversal + the final
    nearest-center assignment — the knn_ivf Lloyd-round pattern: every
    round's argmax is ORDER BY d DESC, vec_id LIMIT 1 over the running
    min-distance frame, and min-distances fold via least() (min over
    int64 is associative, so the incremental fold equals the Spark
    side's fresh least-over-all-centers)."""
    from .similarity import _IVF_DIST_SQL, _IVF_MICRO_SQL

    micro = _IVF_MICRO_SQL.format(a="embedding")
    dist_mc = _IVF_DIST_SQL.format(a="m.vi", b="c.vi")
    dist_pc = _IVF_DIST_SQL.format(a="p.vi", b="c.vi")
    parts = [
        f"m AS (SELECT vec_id, {micro} AS vi FROM embeddings)",
        "c0 AS (SELECT vec_id, vi FROM m ORDER BY vec_id LIMIT 1)",
        f"d0 AS (SELECT m.vec_id, m.vi, {dist_mc} AS d FROM m, c0 c)",
    ]
    for i in range(1, K_CENTERS):
        prev_ids = " UNION ALL ".join(
            f"SELECT vec_id FROM c{j}" for j in range(i)
        )
        parts.append(
            f"c{i} AS (SELECT vec_id, vi FROM d{i - 1} "
            f"WHERE vec_id NOT IN ({prev_ids}) "
            f"ORDER BY d DESC, vec_id LIMIT 1)"
        )
        if i < K_CENTERS - 1:
            parts.append(
                f"d{i} AS (SELECT p.vec_id, p.vi, least(p.d, {dist_pc}) AS d "
                f"FROM d{i - 1} p, c{i} c)"
            )
    cents = " UNION ALL ".join(
        f"SELECT {j} AS rk, vec_id, vi FROM c{j}" for j in range(K_CENTERS)
    )
    parts.append(f"cents AS ({cents})")
    parts.append(
        f"ad AS (SELECT m.vec_id, c.rk, c.vec_id AS cvid, {dist_mc} AS d "
        f"FROM m CROSS JOIN cents c)"
    )
    parts.append(
        "pick AS (SELECT vec_id, rk, cvid, d, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY d, rk) AS rn FROM ad)"
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT rk AS center_rank, cvid AS center_vec_id,
       count(*)::BIGINT AS n_members, max(d)::BIGINT AS radius_d2
FROM pick WHERE rn = 1
GROUP BY rk, cvid
ORDER BY rk
"""


@query("sample_kcenter", category="J.pipeline", oracle=_kcenter_oracle())
def sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center coreset selection over the embedding corpus (Gonzalez
    1985's farthest-point traversal — the geometry behind coreset-based
    active learning / data-selection schemes like Sener & Savarese
    2018): pick K=5 maximally-spread vectors, then audit the induced
    partition — per center its rank, vec_id, member count, and covering
    radius (max member distance, exact int64 micro-units²). The radius
    column IS the k-center objective value; a curation pipeline uses
    the selected ids as the diversity-maximizing seed set and the radii
    to decide whether K must grow.

    Only SELECTION is driver-side (K bounded 1-row collects on
    TakeOrderedAndProject plans — the knn_ivf training/serving split);
    the returned plan is the declarative corpus-wide assignment:
    per-row argmin over K literal centroids (ties → lowest rank,
    array_position semantics ≡ the oracle's ORDER BY d, rk) + ONE
    ≤K-group aggregate. No shuffle of vectors — the wide argmin is
    narrow per-row work and the aggregate carries K rows."""
    from ..functions.vector import sq_dist_int_sql
    from .similarity import _micro

    cents = _kcenter_centers(spark, sf_dir)
    if not cents:  # empty corpus → no centers, no partition to audit
        return spark.createDataFrame(
            [],
            "center_rank int, center_vec_id bigint, "
            "n_members bigint, radius_d2 bigint",
        )
    e = Tables(spark, sf_dir).embeddings.select(
        "vec_id", _micro(F.col("embedding")).alias("vi")
    )
    dists = F.array(*[F.expr(sq_dist_int_sql("vi", c)) for _, c in cents])
    mn = F.array_min(dists)
    rk = (F.array_position(dists, mn) - 1).cast("int")
    vid_lut = F.lit([vid for vid, _ in cents]).cast("array<long>")
    return (
        e.select(rk.alias("center_rank"), mn.alias("d"))
        .groupBy("center_rank")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("d").alias("radius_d2"),
        )
        .select(
            "center_rank",
            F.element_at(vid_lut, F.col("center_rank") + 1).alias(
                "center_vec_id"
            ),
            "n_members",
            "radius_d2",
        )
        .orderBy("center_rank")
    )


# --- DSIR-style importance resampling: hashed-n-gram domain weighting

DSIR_B = 64  # hashed feature buckets
DSIR_TOP = 25  # selected documents reported
DSIR_TARGET_LANG = "en"  # the fixture's stand-in "target domain" slice


def _dsir_oracle() -> str:
    """Built from scale_patterns._md5_int_sql so the feature-hash
    spelling is ONE definition shared with sketch_bloom/join_bloom_semi
    (the round-7 ADVICE discipline) — the bucket id can't drift between
    engines."""
    from .scale_patterns import _md5_int_sql

    h = _md5_int_sql("dsir:", "bg")
    return f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks
),
f AS (
  SELECT doc_id, lang, {h} % {DSIR_B} AS b, count(*)::BIGINT AS cnt
  FROM bg GROUP BY 1, 2, 3
),
bc AS (
  SELECT b, sum(cnt)::BIGINT AS cr,
         sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN cnt ELSE 0 END)::BIGINT
           AS ct
  FROM f GROUP BY 1
),
bk AS (
  SELECT g.b, coalesce(bc.ct, 0)::BIGINT AS ct, coalesce(bc.cr, 0)::BIGINT AS cr
  FROM (SELECT unnest(generate_series(0, {DSIR_B - 1})) AS b) g
  LEFT JOIN bc USING (b)
),
tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr FROM bk),
lam AS (
  SELECT b,
         ln((ct + 1)::DOUBLE / (nt + {DSIR_B})::DOUBLE)
         - ln((cr + 1)::DOUBLE / (nr + {DSIR_B})::DOUBLE) AS lam
  FROM bk, tot
),
pd AS (
  SELECT f.doc_id,
         round(list_sum(list(f.cnt::DOUBLE * lam.lam ORDER BY f.b)), 6) AS w
  FROM f JOIN lam ON f.b = lam.b
  GROUP BY f.doc_id
)
SELECT d.doc_id, d.lang, coalesce(pd.w, 0.0) AS dsir_w
FROM documents d LEFT JOIN pd USING (doc_id)
ORDER BY dsir_w DESC, doc_id
LIMIT {DSIR_TOP}
"""


@query("sample_dsir", category="J.pipeline", oracle=_dsir_oracle())
def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by its hashed-bigram log importance weight against a target domain
    — here the English slice stands in for the "high-quality target" —
    and report the top-25. Per bucket b of 64 hashed bigram features,
    λ_b = ln p_target(b) − ln p_raw(b) with add-1 smoothing; a doc's
    weight is Σ_b count_b(doc)·λ_b. The per-doc double fold runs in
    BUCKET order on both engines (fsum over sort_array ≡ list_sum over
    list ORDER BY b — the sample_temperature discipline), weights are
    6-dp-rounded before the doc_id-tiebroken top-k, and every count is
    exact int64, so the oracle is exact despite the log-space math.
    Docs with no features (single-token) score 0 via the final left
    join — no fixture length invariant.

    Scale shape: ONE tokenize/explode pass feeds the per-(doc, bucket)
    counts (map-side combine bounds the shuffle by docs×64, not token
    count); the λ table is 64 rows BROADCAST to the per-doc fold; the
    result is TakeOrderedAndProject. The hashing trick is the whole
    point at 100 TB — feature space is fixed at B buckets regardless
    of vocabulary, exactly as in the paper."""
    from ..functions.vector import fsum
    from ..functions.tokens import tokens

    # round-13: fan out the single-row-group scan before the bigram
    # hashing pass ONLY (guide §2.5; per-(doc,bucket) counts and an
    # explicitly bucket-ordered fold — partitioning-invariant). The
    # final no-feature left join keeps the plain scan: fanning that
    # trivial side too A/B'd ~10% slower (extra exchange, no map work
    # to parallelize).
    d0 = Tables(spark, sf_dir).documents
    d = fan_out_scan(d0, spark)
    idx = F.sequence(F.lit(1), F.size(F.col("t")) - 1)
    bigrams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)
        ),
    )
    base = (
        d.select("doc_id", "lang", tokens().alias("t"))
        .where(F.size("t") >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("bg"))
    )
    # cache: the (doc, lang, bucket) cell table feeds bc, lam's bk
    # expansion AND the per-doc fold — without it the tokenize/explode
    # subtree plans THREE times (no ReuseExchange across the branches;
    # three corpus scans at 100 TB). The duplicated-subtree trap — see
    # stat_mannwhitney / stat_entropy.
    f = (
        base.groupBy(
            "doc_id",
            "lang",
            (md5_int("dsir:", F.col("bg")) % DSIR_B).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .cache()
    )

    # ONE aggregate pass carries both distributions (conditional sum for
    # the target slice) — halves the feature-count shuffles vs separate
    # target/raw groupBys
    bc = f.groupBy("b").agg(
        F.sum("cnt").alias("cr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt")).otherwise(0)
        ).alias("ct"),
    )
    bk = (
        spark.range(DSIR_B)
        .select(F.col("id").alias("b"))
        .join(F.broadcast(bc), "b", "left")
        .select(
            "b",
            F.coalesce(F.col("ct"), F.lit(0)).cast("long").alias("ct"),
            F.coalesce(F.col("cr"), F.lit(0)).cast("long").alias("cr"),
        )
    )
    tot = bk.agg(
        F.sum("ct").cast("long").alias("nt"), F.sum("cr").cast("long").alias("nr")
    )
    lam = bk.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log(
                (F.col("ct") + 1).cast("double")
                / (F.col("nt") + DSIR_B).cast("double")
            )
            - F.log(
                (F.col("cr") + 1).cast("double")
                / (F.col("nr") + DSIR_B).cast("double")
            )
        ).alias("lam"),
    )
    pd = (
        f.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.round(
                fsum(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    F.col("b"),
                                    (
                                        F.col("cnt").cast("double")
                                        * F.col("lam")
                                    ).alias("term"),
                                )
                            )
                        ),
                        lambda s: s.getField("term"),
                    )
                ),
                6,
            ).alias("w")
        )
    )
    return (
        d0.select("doc_id", "lang")
        .join(pd, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("w"), F.lit(0.0)).alias("dsir_w"),
        )
        .orderBy(F.col("dsir_w").desc(), F.col("doc_id"))
        .limit(DSIR_TOP)
    )
