"""End-to-end training-data curation pipeline (north star showcase).

One composed plan — quality gate → exact dedup → multimodal join →
curated stats — exactly the shape of an LLM-data pipeline run: each stage
is an operator this engine already verifies in isolation; the composition
proves they chain into a single Catalyst-optimized query (no
materialization between stages, predicate/prune effects flow through).

Scale: the pipeline is one scan of documents + one window (dedup) + one
equi-join (embeddings) + one aggregation — the same shuffle count as its
most expensive stage, NOT the sum of stages; that is the point of
composing plans instead of materializing intermediate datasets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..registry import query
from ..sources.loader import Tables, fan_out_scan


@query(
    "pipeline_curation",
    category="J.pipeline",
    tags=("showcase",),
    oracle="""
WITH quality AS (
  SELECT doc_id, lang, source, text,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
  WHERE len(string_split(text, ' ')) BETWEEN 10 AND 90
),
deduped AS (
  SELECT doc_id, lang, source, n_tokens
  FROM (SELECT doc_id, lang, source, n_tokens,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM quality)
  WHERE rn = 1
),
joined AS (
  SELECT d.lang, d.n_tokens, e.label
  FROM deduped d JOIN embeddings e ON d.doc_id = e.vec_id
)
SELECT lang, label,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       sum(n_tokens)::DOUBLE / count(*) AS avg_tokens
FROM joined
GROUP BY lang, label
""",
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → token-length quality gate → deterministic exact dedup →
    embedding join → per-(lang, label) curated corpus stats."""
    t = Tables(spark, sf_dir)
    toks = F.size(F.split("text", " "))
    quality = t.documents.withColumn("n_tokens", toks.cast("long")).filter(
        F.col("n_tokens").between(10, 90)
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_tokens")
    )
    joined = deduped.join(
        t.embeddings.select("vec_id", "label"), F.col("doc_id") == F.col("vec_id")
    )
    return joined.groupBy("lang", "label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens") / F.count(F.lit(1))).alias("avg_tokens"),
    )


@query(
    "pack_sequences",
    category="J.pipeline",
    oracle="""
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source, ((cum - n_tokens) // 256)::BIGINT AS seq_id,
       count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1, 2
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-data layout: concatenate documents
    in deterministic order and cut 256-token sequences — each doc's
    sequence is its starting offset ÷ budget (concat-then-chunk, the
    standard pretraining pack). Packing runs per source shard
    (partitionBy(source)) so shards pack in parallel with no global
    coordination — at 100 TB the shard key is the file/partition id, and
    the window is an in-partition scan after one shuffle on the shard
    key. Integer token counts keep the running sum exact on both
    engines."""
    d = Tables(spark, sf_dir).documents
    n_tokens = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select("source", "doc_id", n_tokens.alias("n_tokens")).withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    return c.groupBy(
        "source",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(256)).alias("seq_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_FFD_CAP = 128

#: pack_ffd oracle — replays the ENTIRE first-fit-decreasing fold as a
#: DuckDB recursive CTE (the ts_holt_winters list-state recipe): items
#: ordered (n_tokens DESC, doc_id) per source; fold state is four
#: parallel BIGINT lists (remaining capacity, n_docs, total_tokens,
#: max_doc_tokens per open bin); each step finds the first bin with
#: rem >= nt via list_min over an index lambda (NULL when none fits →
#: open a new 128-capacity bin, exactly the Python branch). All-integer,
#: so the replay is bit-exact. All 20 sources advance in lockstep (one
#: recursion step = one item per source), depth = max docs/source.
_FFD_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
  WHERE text IS NOT NULL
),
ordered AS (
  SELECT source, doc_id, n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_tokens DESC, doc_id) AS i,
         count(*) OVER (PARTITION BY source) AS n
  FROM toks
),
fold(source, i, n, rem, nd, tt, mx) AS (
  SELECT source, 0::BIGINT, n,
         []::BIGINT[], []::BIGINT[], []::BIGINT[], []::BIGINT[]
  FROM (SELECT DISTINCT source, n FROM ordered)
  UNION ALL
  SELECT source, i, n,
         CASE WHEN ff IS NULL THEN list_append(rem, 128 - nt)
              ELSE list_transform(range(1, len(rem)+1),
                     j -> CASE WHEN j = ff THEN rem[j] - nt ELSE rem[j] END)
         END,
         CASE WHEN ff IS NULL THEN list_append(nd, 1::BIGINT)
              ELSE list_transform(range(1, len(nd)+1),
                     j -> CASE WHEN j = ff THEN nd[j] + 1 ELSE nd[j] END)
         END,
         CASE WHEN ff IS NULL THEN list_append(tt, nt)
              ELSE list_transform(range(1, len(tt)+1),
                     j -> CASE WHEN j = ff THEN tt[j] + nt ELSE tt[j] END)
         END,
         CASE WHEN ff IS NULL THEN list_append(mx, nt)
              ELSE list_transform(range(1, len(mx)+1),
                     j -> CASE WHEN j = ff THEN greatest(mx[j], nt) ELSE mx[j] END)
         END
  FROM (
    SELECT f.source, f.i + 1 AS i, f.n, f.rem, f.nd, f.tt, f.mx,
           o.n_tokens AS nt,
           list_min(list_transform(range(1, len(f.rem)+1),
             j -> CASE WHEN f.rem[j] >= o.n_tokens THEN j END)) AS ff
    FROM fold f JOIN ordered o ON o.source = f.source AND o.i = f.i + 1
  )
)
SELECT source,
       (unnest(range(1, len(nd)+1)) - 1)::BIGINT AS bin_id,
       unnest(nd)::BIGINT AS n_docs,
       unnest(tt)::BIGINT AS total_tokens,
       unnest(mx)::BIGINT AS max_doc_tokens
FROM fold WHERE i = n
"""


@query("pack_ffd", category="J.pipeline", oracle=_FFD_ORACLE)
def pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing per source shard: documents are
    NOT split across sequences (pack_sequences' concat-then-chunk twin
    for losses that forbid cross-doc attention) — sort by (tokens desc,
    doc_id), place each doc in the first 128-token bin it fits, open a
    new bin otherwise (an oversize doc gets its own bin). FFD is
    inherently sequential per shard → applyInPandas with the shard as
    the group key; shards pack in parallel after ONE shuffle on source,
    and at 100 TB the shard key is the file/partition id so group state
    stays bounded by shard size, not corpus size. The open-bin scan is
    order-dependent but DETERMINISTIC (total order, integer state), so
    the oracle replays the whole fold as a recursive CTE carrying the
    per-bin state lists (see _FFD_ORACLE) — converted from rows-only in
    round 8. The pytest replay in tests/test_stats_ml.py stays as the
    engine-independent third opinion. NULL contract (round-11 axis): a
    NULL-text doc has no token count and cannot be packed — the packer
    consumes the non-null document stream, mirrored in the oracle."""
    d = Tables(spark, sf_dir).documents.where(F.col("text").isNotNull())
    t = d.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )

    def _pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        source = pdf["source"].iloc[0] if len(pdf) else None
        remaining: list[int] = []
        stats: list[list[int]] = []  # [n_docs, total_tokens, max_doc]
        for nt in pdf["n_tokens"]:
            nt = int(nt)
            placed = -1
            for i, rem in enumerate(remaining):
                if nt <= rem:
                    placed = i
                    break
            if placed < 0:
                remaining.append(_FFD_CAP)
                stats.append([0, 0, 0])
                placed = len(remaining) - 1
            remaining[placed] -= nt
            s = stats[placed]
            s[0] += 1
            s[1] += nt
            s[2] = max(s[2], nt)
        return pd.DataFrame(
            {
                "source": [source] * len(stats),
                "bin_id": range(len(stats)),
                "n_docs": [s[0] for s in stats],
                "total_tokens": [s[1] for s in stats],
                "max_doc_tokens": [s[2] for s in stats],
            }
        )

    schema = (
        "source string, bin_id long, n_docs long, "
        "total_tokens long, max_doc_tokens long"
    )
    return t.groupBy("source").applyInPandas(_pack, schema)


@query(
    "split_deterministic",
    category="J.pipeline",
    oracle="""
WITH b AS (
  SELECT lang, substring(md5(doc_id::VARCHAR), 1, 2) AS hx FROM documents
)
SELECT lang,
       CASE WHEN hx < 'cd' THEN 'train'
            WHEN hx < 'e7' THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n
FROM b GROUP BY 1, 2
""",
)
def split_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~80/10/10) by hashing the
    stable document key — the split is a pure function of doc_id, so it
    is reproducible across runs, engines and cluster sizes, and new
    documents never reshuffle old assignments (the property random
    splits lose). Bucketing compares the first md5 hex byte
    lexicographically ('cd'=205/256≈80%, 'e7'=231/256≈90%)."""
    d = Tables(spark, sf_dir).documents
    hx = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    split = (
        F.when(hx < "cd", "train").when(hx < "e7", "val").otherwise("test")
    )
    return d.select("lang", split.alias("split")).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "decontaminate",
    category="J.pipeline",
    oracle="""
WITH bench AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
           i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')
         ))) AS sh
  FROM documents WHERE doc_id < 10 AND text IS NOT NULL
),
train AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
           i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')
         ))) AS sh
  FROM documents WHERE doc_id >= 10 AND text IS NOT NULL
)
SELECT t.doc_id, count(*) AS n_hits
FROM train t JOIN bench b USING (sh)
GROUP BY t.doc_id
""",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents sharing any 8-gram
    with the benchmark set (doc_id < 10 stands in for an eval suite),
    with the number of contaminated shingles per document. The benchmark
    shingle set is tiny → broadcast to the training shingle stream, so
    the scan of the 100 TB side never shuffles; training docs explode to
    distinct shingles once (same inverted-index shape as
    dedup_ngram_jaccard, but one side is small by construction).
    NULL contract: non-null document stream on BOTH sides (the
    ``jobs.near_dedup_jaccard`` NULL note), mirrored in the oracle."""
    from ..functions.tokens import shingles

    # round-13: fan out the single-row-group scan before the 8-gram
    # explode (guide §2.5; hit counts only — partitioning-invariant)
    d = fan_out_scan(
        Tables(spark, sf_dir).documents.where(F.col("text").isNotNull()),
        spark,
    )
    bench = (
        d.filter(F.col("doc_id") < 10)
        .select(F.explode(shingles(k=8)).alias("sh"))
        .distinct()
    )
    train = d.filter(F.col("doc_id") >= 10).select(
        "doc_id", F.explode(shingles(k=8)).alias("sh")
    )
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@query(
    "pipeline_pretrain",
    category="J.pipeline",
    tags=("showcase",),
    oracle="""
WITH base AS (
  SELECT doc_id, lang, source, text,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM documents
),
quality AS (
  SELECT * FROM base
  WHERE n_tokens BETWEEN 10 AND 90 AND n_distinct * 3 >= n_tokens
),
deduped AS (
  SELECT doc_id, lang, source, n_tokens
  FROM (SELECT doc_id, lang, source, n_tokens,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM quality)
  WHERE rn = 1
),
sampled AS (
  SELECT * FROM deduped
  WHERE substring(md5(doc_id::VARCHAR), 1, 2)
        < CASE WHEN lang = 'en' THEN 'cd' ELSE '4d' END
)
SELECT lang, source,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       sum((n_tokens + 63) // 64)::BIGINT AS n_chunks,
       sum(n_tokens)::DOUBLE / count(*) AS avg_tokens
FROM sampled
GROUP BY lang, source
""",
)
def pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-data pipeline END TO END as ONE Catalyst plan:
    token-length gate → repetition gate (distinct-token ratio ≥ 1/3,
    integer compare — Gopher-style, no float threshold) → deterministic
    exact dedup → per-language mixture downsampling (md5-hash keep:
    ~80% en / ~30% other, reproducible and engine-portable) → corpus
    accounting per (lang, source): docs, tokens, 64-token training
    chunks (per-doc ceil — exact), average length.

    The point of composing it: Catalyst fuses every row-local gate into
    the adjacent stage (length + repetition run inside the scan's
    codegen; the sample filter runs inside the dedup-window stage — it
    must stay post-dedup, since dropping a doc before the window could
    change which duplicate survives), so the whole pipeline is one scan
    plus two shuffles (window, final agg) — adding a stage costs an
    expression, not a pass; on 100 TB the difference between one read
    and five. Stage thresholds are the
    registry's curation ops (text_repetition, sample_mixture) — this is
    their composition, oracle-checked as a whole."""
    t = Tables(spark, sf_dir)
    toks = F.split("text", " ")
    base = t.documents.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    quality = base.where(
        F.col("n_tokens").between(10, 90)
        & (F.col("n_distinct") * 3 >= F.col("n_tokens"))
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_tokens")
    )
    hx = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    thresh = F.when(F.col("lang") == "en", F.lit("cd")).otherwise(F.lit("4d"))
    sampled = deduped.where(hx < thresh)
    return sampled.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.floor((F.col("n_tokens") + 63) / 64)).alias("n_chunks"),
        (F.sum("n_tokens") / F.count(F.lit(1))).alias("avg_tokens"),
    )


@query(
    "pipeline_incremental_dedup",
    category="J.pipeline",
    oracle="""
WITH inc AS (
  SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 10 >= 8
),
base AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8
),
flagged AS (
  SELECT i.source,
         CASE WHEN b.h IS NOT NULL THEN 'dup_base'
              WHEN row_number() OVER (PARTITION BY i.h ORDER BY i.doc_id) > 1
                THEN 'dup_batch'
              ELSE 'admitted' END AS status
  FROM inc i LEFT JOIN base b ON i.h = b.h
)
SELECT source,
       count(*) AS n_incoming,
       sum(CASE WHEN status = 'dup_base' THEN 1 ELSE 0 END)::BIGINT
         AS n_dup_base,
       sum(CASE WHEN status = 'dup_batch' THEN 1 ELSE 0 END)::BIGINT
         AS n_dup_batch,
       sum(CASE WHEN status = 'admitted' THEN 1 ELSE 0 END)::BIGINT
         AS n_admitted
FROM flagged
GROUP BY source
""",
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a new batch (doc_id % 10 ≥ 8 stands in
    for today's crawl) is admitted against the existing corpus by content
    hash — the snapshot-over-snapshot dedup every continuously-ingesting
    training pipeline runs. Each incoming doc is classified exactly once:
    ``dup_base`` (hash already in the corpus), ``dup_batch`` (a smaller
    doc_id in the SAME batch carries the hash — deterministic survivor,
    dedup_exact discipline), else ``admitted``; reported per source.

    Scale: the corpus side reduces to DISTINCT hashes before the join
    (one column, not the 100 TB of text) and the join key is the hash, so
    the plan is a hash-partitioned equi-join of (incoming batch × corpus
    hash index) — the batch is typically ≪ corpus, so AQE broadcasts the
    batch side; the within-batch window shuffles only the batch. At
    100 TB the corpus hash index would persist bucketed by h
    (sink_compacted shape) so daily runs skip the corpus re-scan."""
    d = Tables(spark, sf_dir).documents
    inc = d.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    base = (
        d.filter(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("in_base", F.lit(1))
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    flagged = (
        inc.join(base, "h", "left")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "status",
            F.when(F.col("in_base") == 1, "dup_base")
            .when(F.col("rn") > 1, "dup_batch")
            .otherwise("admitted"),
        )
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum((F.col("status") == "dup_base").cast("long")).alias("n_dup_base"),
        F.sum((F.col("status") == "dup_batch").cast("long")).alias("n_dup_batch"),
        F.sum((F.col("status") == "admitted").cast("long")).alias("n_admitted"),
    )


@query(
    "pipeline_dataset_card",
    category="J.pipeline",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
       count(DISTINCT lang) AS n_langs,
       (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_dup_texts,
       sum(n_chars)::BIGINT AS total_chars,
       sum(n_chars)::DOUBLE / count(*) AS avg_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY source
""",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card generation: the per-source summary block a training
    dataset ships with (docs, token and char volume, language spread,
    exact-dup rate) — computed in ONE scan as a single wide aggregate
    (the two count-distincts plan as one Expand, still one shuffle of
    partial aggregates). ``avg_chars`` is a single double division of
    exact integer sums (bit-identical cross-engine; pipeline_curation
    precedent). At 100 TB this runs as the cheap trailer of every ingest
    job — same cost shape as dq_profile, grouped by source instead of
    unpivoted by column."""
    d = Tables(spark, sf_dir).documents
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_dup_texts"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "pipeline_shuffle",
    category="J.pipeline",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source,
         md5('shuf:' || doc_id::VARCHAR) AS k,
         ('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 8))::BIGINT % 8
           AS shard
  FROM documents
),
pos AS (
  SELECT doc_id, source, shard,
         row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
  FROM keyed
)
SELECT shard, count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       min(doc_id) FILTER (WHERE pos = 1) AS first_doc,
       max(pos) AS last_pos
FROM pos GROUP BY shard
""",
)
def pipeline_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GLOBAL SHUFFLE + sharding — the step every
    pretraining pipeline runs between curation and tokenization:
    neighboring raw documents correlate (same crawl, same source), and
    a model trained on unshuffled data sees correlated batches, so docs
    are (1) assigned to one of 8 output shards by key hash and
    (2) ordered WITHIN each shard by an independent md5 sort key —
    both pure functions of doc_id, so the 'random' order is
    reproducible across runs, engines, and cluster sizes (the
    sample_hash discipline applied to ordering; an RNG shuffle can't
    give a stable training order). The plan is exactly one shuffle:
    hash-partition by shard, in-partition sort by the md5 key — the
    write-side shape of ``df.repartition(shard).sortWithinPartitions``
    that produces ready-to-stream training shards at any scale. Output
    is the per-shard audit (sizes, source mix, the deterministic first
    doc) rather than the 5k-row shard listing itself."""
    d = Tables(spark, sf_dir).documents
    keyed = d.select(
        "doc_id",
        "source",
        F.md5(
            F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")).cast("binary")
        ).alias("k"),
        (md5_int("shard:", F.col("doc_id")) % 8).alias("shard"),
    )
    wp = Window.partitionBy("shard").orderBy("k", "doc_id")
    pos = keyed.withColumn("pos", F.row_number().over(wp))
    return pos.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.min(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("first_doc"),
        F.max("pos").alias("last_pos"),
    )
