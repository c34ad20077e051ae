"""Deduplication operators (SURVEY.md §2 cat. J, north star).

Tiers, in ascending fuzziness and scale-cost:
- ``dedup_exact``        — struct-min survivor over the raw text key;
- ``dedup_exact_hash``   — hash-groupBy: shuffle a 16-byte MD5 instead of
  the document body (the 100 TB form of exact dedup);
- ``dedup_ngram_jaccard``— exact shingle-set Jaccard pairs (quadratic in
  candidates; oracle-checked);
- ``dedup_minhash``      — MinHash signatures + LSH banding: candidate
  pairs come from band-bucket collisions, verified with exact Jaccard.
  The 100 TB near-dup path: cost ~ n·(sig + bucket sizes), never n².
- ``dedup_simhash``      — 32-bit SimHash fingerprint per document.
- ``dedup_embedding``    — embedding-cosine near-dup pairs.

Determinism: survivors are always min-doc_id (groupBy-min, never
``dropDuplicates``' arbitrary first-seen row); all hashing is seeded
(xxhash64 with literal salts / MD5) — zero RNG anywhere (the driver
value-hashes results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import jobs
from ..functions.hashing import md5_int
from ..functions.tokens import shingles
from ..functions.vector import DUCK_DOT, DUCK_NORM, cosine_sql
from ..registry import REGISTRY, query
from ..sources.loader import Tables, fan_out_scan
from ._memo import session_cache

N_HASHES = 16  # minhash permutations
N_BANDS = 4  # → 4 rows per band; P(candidate | J=0.9) ≈ 1-(1-0.9^4)^4 ≈ 0.986


def _nonnull_docs(d: DataFrame) -> DataFrame:
    """The NON-NULL document stream the shingle/minhash tier consumes
    (round-11 NULL-text axis: a NULL text has no shingles, but
    ``shingles`` turns it into ''; ``jobs.near_dedup_jaccard`` has the
    whole note). Applied exactly once per operator, at the top, so every
    use of the frame shares one filtered scan subtree (ReuseExchange
    and cached-frame substitution need canonical-equal subtrees). The
    filter sits above the fan-out, so this is the very stream
    ``jobs.near_dedup_jaccard`` derives from ``fan_out_scan(d)``; the
    optimizer pushes it below the repartition either way.

    Round-13 optimization (guide §2.5 unsplittable input): the stream
    is fanned out across the session's cores before the shingle
    explode — the committed fixtures are single-row-group parquet, so
    without this every dedup operator's explode+hash map stage
    (16 md5/posting in minhash, 3-gram shingling everywhere) ran as
    ONE task (measured: minhash signature pass 6.1 → 1.0 s at sf0.1).
    No-op on any corpus that already splits to ≥ the default
    parallelism. Sound for every consumer: the tier's aggregation
    states are partition-order-free (counts, integer bit votes,
    min-hash/struct mins) — audited per operator in
    OPTIMIZATION_r13.md. Living INSIDE the canonical helper keeps the
    repartitioned subtree canonical-equal across each operator's
    branches, preserving scan/exchange reuse."""
    return fan_out_scan(d, d.sparkSession).where(F.col("text").isNotNull())


@query(
    "dedup_exact",
    category="J.dedup",
    tags=("headline",),
    oracle="""
SELECT doc_id, lang, n_chars, n_copies
FROM (SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY text) AS n_copies
      FROM documents)
WHERE rn = 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, deterministic min-doc_id survivor: ``jobs.exact_dedup``
    keyed on text over (doc_id, text, lang, n_chars), emitting the
    surviving row without its text + its duplicate count.

    Round-13 optimization (guide §2.3 "aggregate before you shuffle"):
    the survivor is the builder's STRUCT-min aggregate (doc_id leads the
    struct and is unique, so min(struct) IS the min-doc_id row). The
    previous window form (row_number + count over PARTITION BY text)
    shuffled EVERY document row and sorted each partition; the
    aggregate form partial-aggregates map-side, so the Exchange moves
    one row per DISTINCT text per map partition — on a duplicate-heavy
    corpus (the north-star workload) the shuffle shrinks by the
    duplication factor, and the two window passes disappear
    (plans/r13/dedup_exact_{before,after}.txt: Exchange of all rows +
    Sort + Window×2 → partial SortAggregate + Exchange of survivors +
    final SortAggregate). NULL texts still form exactly one group
    (groupBy and PARTITION BY agree on NULL equality)."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text", "lang", "n_chars")
    return jobs.exact_dedup(d, ["text"], "doc_id").drop("text")


@query(
    "dedup_exact_hash",
    category="J.dedup",
    oracle="""
SELECT md5(text) AS fp, min(doc_id) AS survivor_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: the shuffle key is the 16-byte MD5,
    not the document body — at 100 TB this is the difference between
    shuffling fingerprints and shuffling the corpus."""
    d = Tables(spark, sf_dir).documents
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    category="J.dedup",
    oracle="""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),
             i -> array_to_string(string_split(text,' ')[i:i+2], ' ')
           ))) AS shingle
  FROM documents
  WHERE text IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5):
    ``jobs.near_dedup_jaccard`` over the documents (shingle
    inverted-index self-join → common counts → Jaccard), rounded to 6
    dp. Candidates are bounded by shared shingles (an inverted-index
    join, not a crossJoin); at 100 TB prefilter rare shingles or switch
    to dedup_minhash. NULL contract: the builder's (NULL texts pair with
    nothing), mirrored by WHERE text IS NOT NULL in the oracle."""
    d = fan_out_scan(Tables(spark, sf_dir).documents, spark)
    return jobs.near_dedup_jaccard(d, "doc_id", "text").select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _mh_hash(s: int, shingle: F.Column) -> F.Column:
    """Minhash permutation s of a shingle — a pure function of
    (s, shingle) both engines compute identically, so the WHOLE minhash
    signature is DuckDB-replayable."""
    return md5_int(f"mh{s}:", shingle)


def minhash_signatures(d: DataFrame) -> DataFrame:
    """doc_id → N_HASHES minhash values (md5-derived salts, no RNG).
    Callers pass _nonnull_docs(d) — one filter application per
    operator (the _nonnull_docs note; mirrored in _MH_BANDS_CTE)."""
    sh = d.select("doc_id", F.explode(shingles()).alias("shingle"))
    sigs = [
        F.min(_mh_hash(s, F.col("shingle"))).alias(f"sig{s}")
        for s in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*sigs)


def _band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) — the LSH banding of a signature frame:
    bucket = the comma-joined signature slice of N_HASHES/N_BANDS rows.
    ONE spelling shared by dedup_minhash and quality_source_overlap
    (the SQL twin is _MH_BANDS_CTE)."""
    rows_per_band = N_HASHES // N_BANDS
    return sig.select(
        "doc_id",
        F.array(
            *[
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"sig{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
                for b in range(N_BANDS)
            ]
        ).alias("band_buckets"),
    ).select("doc_id", F.posexplode("band_buckets").alias("band", "bucket"))


#: shared oracle prefix — shingles → minhash signatures → band buckets.
#: Reused verbatim by dedup_minhash AND quality_source_overlap (the
#: _IVF_CELLS_CTE / _md5_int_sql one-spelling discipline), so the band
#: definition can never drift between the dedup pipeline and the
#: mixture audit built on it.
_MH_BANDS_CTE = """sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS shingle
  FROM documents
  WHERE text IS NOT NULL
),
mins AS (
  SELECT doc_id, s,
         min(('0x' || substr(md5('mh' || s || ':' || shingle), 1, 8))::BIGINT)
           AS sig
  FROM sh, generate_series(0, 15) AS t(s)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, s // 4 AS band,
         string_agg(sig::VARCHAR, ',' ORDER BY s) AS bucket
  FROM mins GROUP BY doc_id, s // 4
)"""


@query(
    "dedup_minhash",
    category="J.dedup",
    oracle=f"""
WITH {_MH_BANDS_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8
""",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified by exact
    Jaccard (≥ 0.8). Flow: signatures → band buckets → bucket self-join
    (candidates only from colliding buckets) → exact verify on shingle
    sets. The hashes are md5-derived (``_mh_hash``) and the band key is
    the literal comma-joined signature slice, so the ENTIRE probabilistic
    pipeline — permutations, banding, candidate set, verify — is a pure
    function of the data that DuckDB replays bit-identically: a full
    exact oracle for an LSH operator (upgraded from rows-only; planted
    sf0.1 duplicate pairs still pinned by tests/test_dedup.py).
    tests/test_dedup.py asserts the 8 planted sf0.1 duplicate pairs are
    found with jaccard == 1.0.

    The NON-NULL document filter (the _nonnull_docs note) is
    applied HERE, once, so the banding and the verify stage share one
    filtered scan subtree — filtering only inside minhash_signatures
    would leave the verify path on an unfiltered scan and break
    scan-subtree reuse (the scan-multiplicity lint caught exactly
    that: 5 real documents scans instead of 2)."""
    d = _nonnull_docs(Tables(spark, sf_dir).documents)
    bands = _band_buckets(minhash_signatures(d))
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sh = d.select("doc_id", F.explode(shingles()).alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    # exact-verify via shingle-intersection counts on candidates only
    common = (
        a.join(cand, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@query(
    "dedup_simhash",
    category="J.dedup",
    oracle="""
WITH tf AS (
  SELECT doc_id, word, count(*) AS tf,
         ('0x' || substr(md5('simhash:' || word), 1, 8))::BIGINT AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents)
  GROUP BY doc_id, word
),
votes AS (
  SELECT doc_id, b, sum(tf * (((h >> b) & 1) * 2 - 1)) AS v
  FROM tf, generate_series(0, 31) AS t(b)
  GROUP BY 1, 2
)
SELECT doc_id,
       sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document: per-token hash bits,
    tf-weighted ±1 votes per bit position, sign-packed. The token hash
    is the md5-derived 32-bit int (``md5_int``), and votes /
    packing are pure integer arithmetic — so the fingerprints are a
    deterministic function of the data and DuckDB replays them exactly
    (upgraded from rows-only; exact-duplicate fingerprint equality
    stays pinned in tests/test_dedup.py)."""
    d = Tables(spark, sf_dir).documents
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", md5_int("simhash:", F.col("word")))
    )
    bit_votes = [
        F.sum(
            F.col("tf")
            * (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{b}")
        for b in range(32)
    ]
    votes = tf.groupBy("doc_id").agg(*bit_votes)
    packed = None
    for b in range(32):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = bit if packed is None else packed + bit
    return votes.select("doc_id", packed.cast("long").alias("simhash"))


@query(
    "dedup_embedding",
    category="J.dedup",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({DUCK_DOT.format(a="a.embedding", b="b.embedding")}
             / ({DUCK_NORM.format(a="a.embedding")}
                * {DUCK_NORM.format(a="b.embedding")}), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {DUCK_DOT.format(a="a.embedding", b="b.embedding")}
      / ({DUCK_NORM.format(a="a.embedding")}
         * {DUCK_NORM.format(a="b.embedding")}) >= 0.5
""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.5) as a blocked matrix
    product: corpus broadcast once, each Arrow batch computes its cosine
    row-block in BLAS and emits qualifying (vec_a < vec_b) CANDIDATES —
    the n²-pair space is scanned but never materialized as rows (same
    escape-hatch rationale as knn_join; ``knn_join_lsh`` implements the
    beyond-broadcast bucketed form of this pair generation).

    Float discipline: BLAS prunes with an epsilon-relaxed threshold only;
    the surviving pairs (a vanishing fraction of n²) are re-scored JVM-side
    with the sequential-fold ``cosine_sql``, whose fold order is bit-identical
    to the DuckDB oracle — so the ≥ 0.5 cut and the 6-dp rounding are
    decided by the same arithmetic on both engines."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    e = Tables(spark, sf_dir).embeddings
    corpus = e.select("vec_id", "embedding").toPandas()
    if corpus.empty:  # empty corpus → no pairs (round-10 sweep)
        return spark.createDataFrame(
            [], "vec_a bigint, vec_b bigint, cos_sim double"
        )
    ids = np.array(corpus["vec_id"], dtype=np.int64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in corpus["embedding"]])
    norms = np.sqrt((mat * mat).sum(axis=1))
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    b_norms = spark.sparkContext.broadcast(norms)

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat, c_norms = b_ids.value, b_mat.value, b_norms.value
        for pdf in batches:
            q = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q_ids = np.array(pdf["vec_id"], dtype=np.int64)
            q_norms = np.sqrt((q * q).sum(axis=1))
            cos = (q @ c_mat.T) / (q_norms[:, None] * c_norms[None, :])
            keep_a, keep_b = [], []
            for i, vid in enumerate(q_ids):
                # relaxed cut: summation-order noise is ~1e-13 relative,
                # 1e-6 margin guarantees no JVM-acceptable pair is pruned
                mask = (c_ids > vid) & (cos[i] >= 0.5 - 1e-6)
                keep_a.extend([vid] * int(mask.sum()))
                keep_b.extend(c_ids[mask])
            yield pd.DataFrame({"vec_a": keep_a, "vec_b": keep_b})

    cand = e.select("vec_id", "embedding").mapInPandas(
        pairs, "vec_a BIGINT, vec_b BIGINT"
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    sim = F.expr(cosine_sql("emb_a", "emb_b", unroll=True))
    return (
        cand.join(F.broadcast(ea), "vec_a")
        .join(F.broadcast(eb), "vec_b")
        .where(sim >= 0.5)
        .select("vec_a", "vec_b", F.round(sim, 6).alias("cos_sim"))
    )


CC_MAX_ITERS = 15  # safety bound; dup clusters are near-cliques, converge in ~2


@query(
    "dedup_components",
    category="J.dedup",
    oracle="""
WITH RECURSIVE
sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),
             i -> array_to_string(string_split(text,' ')[i:i+2], ' ')
           ))) AS shingle
  FROM documents
  WHERE text IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node AS doc_id, min(comp) AS component_id,
       (min(comp) = node) AS is_canonical
FROM walk GROUP BY node
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution — the step a pairwise dedup op leaves
    undone. Near-dup similarity is not transitive: pair lists (A,B),(B,C)
    alone cannot say which rows to drop. This op closes the pair graph
    into connected components (component id = min doc_id reachable) and
    flags the one canonical survivor per component — the keep/drop
    decision a 100 TB curation pipeline actually executes.

    Algorithm: iterative min-label propagation. Each round is one
    declarative plan — edges ⋈ labels, union, groupBy(node).min(comp) —
    with a driver-side convergence count; rounds = graph diameter.
    Jaccard-0.5 dup clusters are near-cliques (diameter ≤ 2), so this
    converges in ~2 rounds; for web-scale graphs with long chains or
    supernodes the O(log n)-round large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) is the drop-in replacement — same edge/label frames, the
    loop body swaps. Edges are localCheckpoint-ed once (the
    ``jobs.near_dedup_jaccard`` pairs, reused every round with lineage cut);
    labels are checkpointed per round so round k's plan does not nest
    round k-1's. Oracle: DuckDB recursive CTE computing min reachable id.
    """
    d = Tables(spark, sf_dir).documents
    # the builder pairs non-null texts only; the walk seeds from ALL docs
    # (NULL-text docs are singleton components on both engines)
    pairs = jobs.near_dedup_jaccard(fan_out_scan(d, spark), "doc_id", "text").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    labels = d.select(F.col("doc_id").alias("node"), F.col("doc_id").alias("comp"))
    for _ in range(CC_MAX_ITERS):
        prop = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "comp"
        )
        new = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.withColumnRenamed("comp", "comp_new")
            .join(labels, "node")
            .where(F.col("comp_new") != F.col("comp"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # diameter > CC_MAX_ITERS: labels have NOT reached the closure, and
        # returning them would silently mis-assign components. Fail loudly —
        # the caller can raise CC_MAX_ITERS or switch to the O(log n)-round
        # large-star/small-star loop for long-chain graphs.
        raise RuntimeError(
            f"dedup_components did not converge in {CC_MAX_ITERS} rounds "
            f"({changed} labels still changing); graph diameter exceeds the "
            "iteration budget — use the large-star/small-star variant"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component_id"),
        (F.col("comp") == F.col("node")).alias("is_canonical"),
    )


@query(
    "dedup_levenshtein",
    category="J.dedup",
    oracle="""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),
             i -> array_to_string(string_split(text,' ')[i:i+2], ' ')
           ))) AS shingle
  FROM documents
  WHERE text IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cand AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.3
)
SELECT doc_a, doc_b,
       levenshtein(ta.text, tb.text)::BIGINT AS edit_dist
FROM cand
JOIN documents ta ON ta.doc_id = doc_a
JOIN documents tb ON tb.doc_id = doc_b
WHERE levenshtein(ta.text, tb.text) * 5 <= greatest(length(ta.text), length(tb.text))
""",
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: candidates from the shingle inverted
    index (``jobs.near_dedup_jaccard`` at Jaccard ≥ 0.3 — a cheap,
    recall-oriented block), confirmed by
    full Levenshtein with a relative cutoff (dist ≤ 20% of the longer
    text, expressed as integer math `5·dist ≤ max_len` so both engines
    compare exact ints — no float threshold to straddle). Levenshtein is
    O(len²) per pair, which is exactly why it never runs on the n² pair
    space: the block bounds it to near-dup candidates, the same
    block-then-verify shape as dedup_minhash. At 100 TB swap the exact
    Jaccard block for minhash bands and keep this verify stage; the
    verify is JVM-side `F.levenshtein` (whole-stage codegen, no UDF).

    Unicode semantics (round-10 unicode sweep): the engine's distance
    is CHARACTER-level (Spark's levenshtein counts codepoint edits —
    'café x' → 'cafe x' is 1). DuckDB's builtin is BYTE-based (the
    same pair scores 2), so the oracle is exact on ASCII corpora
    (every committed fixture) while non-ASCII parity is pinned by the
    provable relationship char_dist ≤ byte_dist in
    tests/test_empty_fixture.py::test_unicode_levenshtein_relationship."""
    docs = Tables(spark, sf_dir).documents
    cand = jobs.near_dedup_jaccard(
        fan_out_scan(docs, spark), "doc_id", "text", threshold=0.3
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    d = _nonnull_docs(docs)  # the builder's own stream: one scan subtree
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    # Round-13 optimization (guide §1.2 "per-task work"): the verify is
    # the BOUNDED levenshtein (Spark 3.5+ three-arg form) with the
    # per-pair threshold k = max_len div 5 — the banded DP costs
    # O(k·len) instead of O(len²) and abandons early. The old form ran
    # the UNBOUNDED DP on every blocked candidate inside the join
    # condition and again (unbounded) in the output projection; Catalyst
    # still pushes this filter into the join condition, so the plan
    # keeps two evaluation sites — but both are now bounded, and the
    # projection's re-evaluation only runs for the ~10⁻³ of candidates
    # that survive (plans/r13/dedup_levenshtein_{before,after}.txt).
    # Equivalence is exact integer math: dist ≤ max_len div 5 ⟺
    # 5·dist ≤ max_len (dist integral), and the 3-arg form returns -1
    # iff dist exceeds the bound, else the true distance.
    lev_k = F.expr(
        "levenshtein(text_a, text_b,"
        " greatest(length(text_a), length(text_b)) div 5)"
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("lev_k", lev_k)
        .where(F.col("lev_k") != -1)
        .select("doc_a", "doc_b", F.col("lev_k").cast("long").alias("edit_dist"))
    )


#: dedup_jaccard_prefix shares dedup_ngram_jaccard's oracle verbatim — the
#: prefix filter is a candidate-pruning rewrite, not a semantics change.
_JACCARD_ORACLE = REGISTRY["dedup_ngram_jaccard"].oracle


@query("dedup_jaccard_prefix", category="J.dedup", oracle=_JACCARD_ORACLE)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (AllPairs/PPJoin family) —
    same result set as ``dedup_ngram_jaccard`` (IDENTICAL oracle), with
    the candidate join shrunk by the prefix theorem: order every doc's
    shingles canonically (ascending document frequency, rarest first,
    tie-break lexicographic) and index only the first
    n − ⌈t·n⌉ + 1 of them; two docs with J ≥ t MUST share a prefix
    shingle (if all shared shingles sat outside both prefixes, the
    intersection would be too small to reach t). Verification recomputes
    exact Jaccard per candidate via array_intersect of the full shingle
    sets.

    Scale shape vs the full inverted-index join: the index (and thus the
    quadratic per-bucket pair generation) drops to ~(1−t) of all
    postings, with the rarest — least-colliding — shingles kept, so hot
    buckets shrink the most. At t=0.9 the index is 10% of postings; the
    pytest proves result-equality and measures the pruning. Next rung on
    the same ladder: dedup_minhash (probabilistic candidates).

    The shingle postings (sh: df pass + rank join) and the prefix index
    (both sides of the candidate self-join) are each referenced twice;
    ReuseExchange doesn't collapse the duplicated subtrees, so both are
    cache()d — measured 1.9× at sf0.1 (3.5s → 1.9s), the
    triangles_from_edges precedent.

    NULL contract: non-null document stream (the _nonnull_docs note);
    shares dedup_ngram_jaccard's filtered oracle verbatim."""
    t = 0.5
    d = _nonnull_docs(Tables(spark, sf_dir).documents)
    # both caches session-memoized (round-10 ADVICE: no per-call leak)
    sh = session_cache(
        spark,
        sf_dir,
        "prefix_shingles",
        lambda: d.select("doc_id", F.explode(shingles()).alias("shingle")),
    )
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(df_counts, "shingle")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    )
    prefix = session_cache(
        spark,
        sf_dir,
        "prefix_index",
        lambda: ranked.where(
            F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1
        ).select("doc_id", "shingle", "n_sh"),
    )
    # AllPairs LENGTH filter (applied inside the candidate join, before
    # any verification): J >= t forces t*|a| <= |b| <= |a|/t, so
    # mismatched-size pairs never leave the bucket
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_sh") >= F.ceil(F.lit(t) * F.col("a.n_sh")))
            & (F.col("b.n_sh") * F.lit(t) <= F.col("a.n_sh"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets = d.select(
        "doc_id", F.array_sort(shingles()).alias("sh_set")
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"))
    n_common = F.size(F.array_intersect("set_a", "set_b"))
    jac = n_common / (F.size("set_a") + F.size("set_b") - n_common)
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= t)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@query(
    "quality_source_overlap",
    category="J.dedup",
    oracle=f"""
WITH {_MH_BANDS_CTE},
sb AS (
  SELECT DISTINCT d.source, b.band, b.bucket
  FROM bands b JOIN documents d USING (doc_id)
),
per AS (SELECT source, count(*)::BIGINT AS nb FROM sb GROUP BY 1),
x AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*)::BIGINT AS n_shared
  FROM sb a
  JOIN sb b ON a.band = b.band AND a.bucket = b.bucket
           AND a.source < b.source
  GROUP BY 1, 2
)
SELECT x.source_a, x.source_b, x.n_shared,
       pa.nb AS n_a, pb.nb AS n_b,
       round(x.n_shared::DOUBLE / (pa.nb + pb.nb - x.n_shared), 6)
         AS bucket_jaccard
FROM x
JOIN per pa ON pa.source = x.source_a
JOIN per pb ON pb.source = x.source_b
""",
)
def quality_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate OVERLAP MATRIX: for every source
    pair, the Jaccard of their minhash band-bucket sets — the
    mixture-design evidence the per-pair dedup_* keys don't provide.
    A pretraining pipeline weighting 20 crawls needs to know which
    sources are near-copies of each other (mirrors, scrapes of the same
    upstream, syndication) BEFORE setting mixture weights: two sources
    with high bucket overlap contribute near-identical n-gram mass, so
    their combined weight should be discounted — and cross-source
    overlap is invisible to within-corpus dedup reporting (a pair list
    says which DOCS collide, not which SOURCES are redundant).

    Sparse by construction: only pairs sharing ≥ 1 bucket are emitted
    (the join produces nothing else), so the output is the nonzero
    entries of the S×S matrix, never S² rows. Scale shape: the banding
    is the REGISTERED dedup_minhash banding (shared _band_buckets /
    _MH_BANDS_CTE spelling — one definition on each engine), collapsed
    to DISTINCT (source, band, bucket) BEFORE the self-join, so the
    join input is bucket-level (≪ doc-level) and the shuffle keys on
    (band, bucket) exactly like the dedup candidate join; per-source
    set sizes ride one tiny aggregate. Counts are exact integers; the
    Jaccard is one identical double division, rounded 6 dp.

    Degenerate inputs (round-10 sweeps): an empty corpus or a
    single-source corpus yields zero pairs on both engines; the
    denominator n_a + n_b − n_shared ≥ 1 whenever a pair exists."""
    d = _nonnull_docs(Tables(spark, sf_dir).documents)
    bands = _band_buckets(minhash_signatures(d))
    # feeds the pair join (both sides) + per-source sizes;
    # session-memoized (round-10 ADVICE: no per-invocation leak)
    sb = session_cache(
        spark,
        sf_dir,
        "overlap_src_buckets",
        lambda: bands.join(d.select("doc_id", "source"), "doc_id")
        .select("source", "band", "bucket")
        .distinct(),
    )
    per = sb.groupBy("source").agg(F.count(F.lit(1)).alias("nb"))
    x = (
        sb.alias("a")
        .join(sb.alias("b"), ["band", "bucket"])
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("nb").alias("n_a"))
    pb = per.select(F.col("source").alias("source_b"), F.col("nb").alias("n_b"))
    denom = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    return (
        x.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(F.col("n_shared").cast("double") / denom, 6).alias(
                "bucket_jaccard"
            ),
        )
    )
