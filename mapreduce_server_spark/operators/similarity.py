"""Similarity search over embeddings (SURVEY.md §2 cat. J, north star).

Three tiers, by scale:
- ``knn_bruteforce``: one query vector broadcast to every partition —
  exact, zero shuffle, linear scan; right up to any corpus size for a
  single query.
- ``knn_join``: every vector → its top-k neighbors. Exact quadratic form
  here (fine at fixture scale); the plan is crossJoin + per-key window
  top-k, so Spark streams pairs without materializing them.
- ``knn_lsh``: the 100 TB path — deterministic random-hyperplane LSH
  buckets vectors so candidate pairs are generated per bucket instead of
  globally (candidate count ~ n·bucket_size instead of n²). Hyperplanes
  are derived from MD5 bytes (pure function of (plane, dim) — zero RNG,
  reproducible across runs/partitions, SURVEY §5.2 determinism rule).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import jobs
from ..cache import Memo, app_id, note_read
from ..functions.hashing import md5_int
from ..functions.numeric import dsum
from ..functions.pairs import skew_safe_pairs
from ..functions.vector import (
    DUCK_DOT,
    DUCK_NORM,
    cosine_sql,
    dot_sql,
    norm_sql,
    py_dot,
    sq_dist_int_sql,
)
from ..registry import query
from ..sources.loader import Tables, fan_out_scan

QUERY_VEC_ID = 0

#: query-vector memo keyed by sf_dir — the lookup is one tiny Spark job;
#: repeated invocations (bench warm-ups, LSH + brute-force pairs) reuse it.
_QV_CACHE = Memo("query_vector")


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float] | None:
    """The designated query vector, or None when the corpus has no row
    with QUERY_VEC_ID (0-row fixtures, filtered shards): every oracle's
    ``q`` CTE is then empty and empties the query downstream, so
    callers return their schema-correct empty frame instead of
    subscripting None (round-10 empty-input sweep)."""

    def read() -> list[float] | None:
        e = Tables(spark, sf_dir).embeddings
        row = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").head()
        return None if row is None else [float(x) for x in row[0]]

    return _QV_CACHE(sf_dir, read)
# 6 planes → 64 buckets: sized so fixture-scale buckets hold ~8-30 vectors
# (candidate set non-trivial); at real scale raise planes with corpus size
# (candidates per probe ≈ n / 2^planes). Multi-probe (Hamming-1 flips)
# recovers the recall lost at bucket edges — implemented in knn_lsh.
N_PLANES = 6


def _hyperplane(plane: int, dim: int = 64) -> list[float]:
    """Deterministic ±1 hyperplane component per (plane, dim) from MD5."""
    comps = []
    for d in range(dim):
        h = hashlib.md5(f"mrss-lsh:{plane}:{d}".encode()).digest()
        comps.append(1.0 if h[0] % 2 == 0 else -1.0)
    return comps


@query(
    "knn_bruteforce",
    category="J.sim",
    tags=("headline",),
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id,
       round({DUCK_DOT.format(a="embedding", b="qv")}
             / ({DUCK_NORM.format(a="embedding")} * {DUCK_NORM.format(a="qv")}),
             6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 by cosine vs one query vector: ``jobs.knn_topk``
    over the corpus minus the query row. The vector is fetched once
    driver-side and inlined as a literal (broadcast to all tasks);
    scan + TakeOrderedAndProject, no shuffle of the corpus."""
    e = Tables(spark, sf_dir).embeddings
    qv = _query_vector(spark, sf_dir)
    if qv is None:  # no query row → oracle's q CTE empties the query
        return spark.createDataFrame([], "vec_id bigint, cos_sim double")
    # this key deliberately keeps the fold, not the FAST_DIM unroll
    # (bit-identical either way). The serving path re-collects a
    # memoized no-shuffle plan, and each execution regenerates the
    # whole-stage source before the codegen cache lookup — for the
    # ~130-term unrolled dot+norm that fixed cost exceeds the per-row
    # win on a 2k-row scan (A/B med 0.14 s fold vs 0.23+ s unrolled).
    # The query's norm is one literal (vector.norm_sql).
    corpus = e.filter(F.col("vec_id") != QUERY_VEC_ID)
    return jobs.knn_topk(corpus, "vec_id", "embedding", qv, k=10)


@query(
    "knn_join",
    category="J.sim",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         round({DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 6) AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
)
SELECT vec_id, nbr_id, score
FROM (SELECT vec_id, nbr_id, score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, nbr_id) AS rn
      FROM pairs)
WHERE rn <= 3
""",
)
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join (k=3, dot-product score) as a blocked matrix product:
    the corpus matrix is broadcast once (n×64 floats — MBs at fixture
    scale, still broadcastable at millions of vectors), and each Arrow
    batch of query rows computes `batch @ corpus.T` in BLAS with local
    top-k — no shuffle, no n²-row materialization. This is the
    partition-prune-refine shape of distributed similarity joins
    (ICDE'19 trajectory-join); beyond broadcastable corpus sizes,
    ``knn_join_lsh`` is the implemented bucketed form of this exact
    join. A pure-DataFrame crossJoin+window form computes
    the same result ~50× slower (per-element expression folds) — the
    sanctioned pandas-UDF escape hatch (ARCHITECTURE.md §6).

    Float discipline: BLAS only PRUNES (top-10 candidates per vector, a
    margin over k=3 that summation-order ulps cannot cross); the final
    score and the (score DESC, nbr_id) ranking are computed JVM-side with
    the sequential-fold ``dot_sql`` that matches the DuckDB oracle
    bit-for-bit."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    e = Tables(spark, sf_dir).embeddings
    corpus = e.select("vec_id", "embedding").toPandas()
    ids = np.array(corpus["vec_id"], dtype=np.int64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in corpus["embedding"]])
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nbr_ids, corpus_m = b_ids.value, b_mat.value
        for pdf in batches:
            q = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            scores = q @ corpus_m.T  # (batch, n) in BLAS
            out_v, out_n = [], []
            for i, vid in enumerate(pdf["vec_id"]):
                mask = nbr_ids != vid
                cand_n, cand_s = nbr_ids[mask], scores[i][mask]
                order = np.lexsort((cand_n, -cand_s))[:10]
                out_v.extend([vid] * len(order))
                out_n.extend(cand_n[order])
            yield pd.DataFrame({"vec_id": out_v, "nbr_id": out_n})

    cand = e.select("vec_id", "embedding").mapInPandas(
        topk, "vec_id BIGINT, nbr_id BIGINT"
    )
    ea = e.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("emb_b"))
    scored = (
        cand.join(F.broadcast(ea), "vec_id")
        .join(F.broadcast(eb), "nbr_id")
        .select(
            "vec_id",
            "nbr_id",
            F.expr(
                f"round({dot_sql('emb_a', 'emb_b', unroll=True)}, 6)"
            ).alias("score"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("vec_id", "nbr_id", "score")
    )


def _bucket_expr(col_sql: str):
    """LSH bucket id: N_PLANES sign bits of sequential-fold dot products
    with the static ±1 hyperplanes (pure function of the vector — the
    exact expression the generated oracles replay). Takes the column as
    SQL text and builds the whole bucket as ONE server-side-parsed
    expression (round 14 — the py4j node-by-node construction of
    literal-plane dots was measured at ~1 s of driver time PER PLANE on
    every fresh plan build)."""
    return F.expr(
        " + ".join(
            f"(CASE WHEN ({dot_sql(col_sql, _hyperplane(p))}) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p in range(N_PLANES)
        )
    )


def _plane_sql(p: int) -> str:
    """The plane as a DuckDB DOUBLE[] literal (components are exactly ±1)."""
    return "[" + ", ".join(repr(c) for c in _hyperplane(p)) + "]::DOUBLE[]"


def _lsh_oracle() -> str:
    """Full SQL replay of knn_lsh: the hyperplanes are static md5-derived
    literals, the bucket is a sum of sign-bit CASEs over the SAME
    sequential-fold dot product (DUCK_DOT ≡ functions.vector.dot_sql), and
    multi-probe membership is bucket == qbucket or a 1-bit XOR."""
    bucket_expr = lambda a: " + ".join(
        f"CASE WHEN {DUCK_DOT.format(a=a, b=_plane_sql(p))} >= 0"
        f" THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES)
    )
    flips = ", ".join(str(1 << p) for p in range(N_PLANES))
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
qb AS (SELECT ({bucket_expr("qv")}) AS qbucket FROM q),
cand AS (
  SELECT vec_id,
         ({bucket_expr("embedding")}) AS bucket,
         {DUCK_DOT.format(a="embedding", b="q.qv")}
           / ({DUCK_NORM.format(a="embedding")} * {DUCK_NORM.format(a="q.qv")})
           AS cs
  FROM embeddings, q
  WHERE vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, bucket, round(cs, 6) AS cos_sim
FROM cand, qb
WHERE bucket = qbucket OR xor(bucket::BIGINT, qbucket::BIGINT) IN ({flips})
ORDER BY cs DESC, vec_id
LIMIT 10
"""


@query("knn_lsh", category="J.sim", oracle=_lsh_oracle())
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH (the scale path).

    sign-bit sketch → bucket id → per-bucket exact cosine vs the query.
    Deterministic planes (MD5-derived ±1 components, no RNG) so the
    bucket assignment — a sign decision on an exactly-reproducible
    sequential-fold dot product — and therefore the whole probe set is
    a pure function of the data. The oracle replays it end-to-end with
    the planes inlined as literals (generated by ``_lsh_oracle``):
    exact-gated LSH, upgraded from rows-only; the recall pytest vs
    knn_bruteforce stays (tests/test_similarity.py).
    """
    e = Tables(spark, sf_dir).embeddings
    qv = _query_vector(spark, sf_dir)
    if qv is None:  # no query row → oracle's q CTE empties the query
        return spark.createDataFrame(
            [], "vec_id bigint, bucket int, cos_sim double"
        )
    # the query's bucket is a pure function of known floats — computed
    # driver-side (py_dot: the executor fold's double arithmetic)
    q_bucket = sum(
        1 << p for p in range(N_PLANES) if py_dot(qv, _hyperplane(p)) >= 0
    )
    # multi-probe: also search the N_PLANES Hamming-1 neighbor buckets —
    # vectors near a hyperplane land on either side, so probing adjacent
    # sign-flips recovers most of the recall LSH loses at bucket edges
    probes = [q_bucket] + [q_bucket ^ (1 << p) for p in range(N_PLANES)]
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("bucket", _bucket_expr("embedding"))
        .filter(F.col("bucket").isin(probes))
        .select(
            "vec_id",
            "bucket",
            F.expr(f"round({cosine_sql('embedding', qv)}, 6)").alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "emb_label_centroids",
    category="J.sim",
    oracle="""
SELECT label, g.i - 1 AS dim,
       round(avg(embedding[g.i]::DOUBLE), 6) AS centroid
FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
GROUP BY label, g.i
""",
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dim): posexplode → mean,
    rounded to 6 dp. (A decimal-grid exact sum is NOT safe here: float32
    values have short terminating decimal tails, so double→decimal casts
    hit genuine round-half ties where Spark's HALF_UP and DuckDB's cast
    disagree — observed at decimal(28,12). The double sums differ only in
    the last ulp, which round-6 absorbs.)"""
    e = Tables(spark, sf_dir).embeddings
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
        .select(F.col("label"), F.col("dim").cast("long").alias("dim"), "centroid")
    )


@query(
    "multimodal_join",
    category="J.sim",
    oracle=f"""
SELECT doc_id, lang,
       len(string_split(text, ' ')) AS n_tokens,
       label,
       round({DUCK_NORM.format(a="embedding")}, 6) AS emb_norm
FROM documents JOIN embeddings ON doc_id = vec_id
""",
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record assembly: text features ⋈ vector features in one
    frame (north-star multimodal columns; ids align 1:1 per FIXTURES.md)."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.join(t.embeddings, F.col("doc_id") == F.col("vec_id"))
        .select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            "label",
            F.expr(f"round({norm_sql('embedding', unroll=True)}, 6)").alias(
                "emb_norm"
            ),
        )
    )


# --- IVF (inverted-file) approximate NN — the centroid-partitioned scale path

IVF_K = 16  # coarse centroids (≈ sqrt-ish of fixture corpus; scale with n)
IVF_NPROBE = 4  # clusters scanned per query
IVF_ITERS = 2  # Lloyd refinement rounds over the deterministic seeds
IVF_TRAIN_CAP = 10_000  # max vectors collected for quantizer training

#: coarse-quantizer memo keyed by sf_dir (16×64 ints — driver-tiny)
_IVF_CACHE = Memo("ivf_centroids")


def _micro(emb_col):
    """Embedding → integer micro-units: floor(x·10⁶ + 0.5) per component
    (the emb_quantize nearest-int recipe — identical binary-double
    semantics on Spark / DuckDB / Python, so all three engines derive
    the SAME integer vector). Quantizing the IVF input at 6 dp costs
    nothing at ±0.6-magnitude embeddings and makes every distance an
    EXACT int64 (|v| ≤ 1e6 ⇒ Σ64 squares ≤ 6.4e13), which is what lets
    the whole quantizer replay in SQL (round-8 verdict item 2)."""
    return F.transform(
        emb_col,
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0) + F.lit(0.5)).cast(
            "long"
        ),
    )


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list[list[int]] | None:
    """K coarse centroids IN INTEGER MICRO-UNITS: stride-spaced seeds
    over vec_id order, refined with IVF_ITERS Lloyd rounds — trained
    DRIVER-SIDE in numpy int64 on one collected DETERMINISTIC SAMPLE,
    capped at IVF_TRAIN_CAP vectors. Past the cap, rows are kept by an
    md5(vec_id) 16-bit-bucket filter (the sample_hash discipline:
    seedless, partitioning-independent, a pure function of vec_id and
    the corpus count) — coarse-quantizer quality needs a sample, never
    the corpus, so training cost is CONSTANT in corpus size while the
    fixture corpora (≤ 2k vectors) sit under the cap and train on
    everything, unchanged. A JVM-expression training loop was measured
    20× slower at sf0.1: higher-order-function folds run interpreted
    (outside whole-stage codegen), and K×dim literal trees pay
    multi-second planning per Lloyd round — the same blocked-BLAS
    escape-hatch rationale as knn_join (ARCHITECTURE.md §6). Only
    TRAINING is driver-side: corpus assignment in knn_ivf stays a
    declarative JVM plan.

    Round-8 exactness upgrade (verdict item 2): training runs on
    ``_micro``-quantized vectors in PURE int64 — squared distances are
    exact order-free integer sums, the Lloyd mean rounds half-up via
    the integer identity (2·Σ + n) // (2n), and np.argmin ties resolve
    to the lowest cluster id, matching both _cell_assign_cols's
    array_position rule and the oracle's ORDER BY d, cid. Every step
    is therefore a pure integer function of the data that DuckDB
    replays bit-for-bit (the _IVF_ORACLE unrolled CTEs) — knn_ivf /
    knn_ivf_pruned graduate from rows-only to exact-oracle. Memoized
    per sf_dir."""
    return _IVF_CACHE(sf_dir, lambda: _train_centroids(spark, sf_dir))


def _train_centroids(spark: SparkSession, sf_dir: str) -> list[list[int]] | None:
    import numpy as np

    e = Tables(spark, sf_dir).embeddings
    samp = e.select("vec_id", _micro(F.col("embedding")).alias("vi"))
    n_corpus = e.count()
    if n_corpus > IVF_TRAIN_CAP:
        # keep ≈ IVF_TRAIN_CAP vectors: 16-bit md5 bucket under threshold
        # (for n ≤ cap the threshold exceeds 65535, so the oracle applies
        # the SAME filter unconditionally as a no-op — invariant-free)
        keep = max(1, (65536 * IVF_TRAIN_CAP) // n_corpus)
        samp = samp.filter(md5_int(F.col("vec_id"), hex_digits=4) < keep)
    rows = samp.orderBy("vec_id").collect()
    if not rows:
        # empty corpus → no quantizer; every IVF-family oracle's CTE
        # chain is empty, so callers return their schema-correct empty
        # frame (round-10 empty-input sweep).
        return None
    mat = np.array([[int(x) for x in r[1]] for r in rows], dtype=np.int64)
    stride = max(1, len(rows) // IVF_K)
    cents = mat[::stride][:IVF_K].copy()
    for _ in range(IVF_ITERS):
        # ||x-c||² expanded stays exact int64; argmin ties → lowest id
        d2 = (
            (mat * mat).sum(axis=1)[:, None]
            - 2 * (mat @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        assign = np.argmin(d2, axis=1)
        new = []
        for k in range(len(cents)):
            members = mat[assign == k]
            if len(members):
                s = members.sum(axis=0)
                n = len(members)
                # round-half-up mean in exact integer arithmetic:
                # floor((2s + n) / 2n) — the oracle computes the same
                # via floor((2*s + n)/(2.0*n)) (operands < 2^53, exact)
                new.append((2 * s + n) // (2 * n))
            else:
                new.append(cents[k])  # empty cluster: keep previous
        cents = np.array(new, dtype=np.int64)
    return [[int(x) for x in c] for c in cents]


def _probe_cells(
    cents: list[list[int]], qv: list[float], nprobe: int = IVF_NPROBE
) -> list[int]:
    """The query's ``nprobe`` nearest cells — exact integer distances on
    the micro-quantized query (ties resolve to the lowest cluster id
    via sort; same total order as the oracle's ORDER BY d, cid).
    knn_filter widens nprobe to compensate for predicate selectivity."""
    import math

    qi = [math.floor(float(x) * 1000000.0 + 0.5) for x in qv]
    qdists = []
    for k, c in enumerate(cents):
        acc = 0
        for x, y in zip(qi, c):
            acc += (x - y) * (x - y)
        qdists.append((acc, k))
    return [k for _, k in sorted(qdists)[:nprobe]]


#: session-scoped IVF artifacts, keyed by (Spark applicationId, sf_dir):
#: the assigned-cells DataFrame and the cell-partitioned on-disk index.
#: _ivf_centroids already made quantizer TRAINING once-per-session; these
#: make corpus ASSIGNMENT once-per-session too (round-9 verdict item 4 —
#: knn_ivf/knn_filter sat in the slowest-ten purely on the shared
#: per-query assignment pass). The 100 TB analogue is exactly this: a
#: vector store materializes cell assignment at ingest, not per query.
#: The memo's per-key build lock keeps them single-writer: two serving
#: threads cold-hitting the same corpus must not race the same
#: overwrite-mode index write (Spark's _temporary staging collides) —
#: one builds, the other waits and reuses (pinned in
#: tests/test_concurrent.py).
_IVF_ASSIGN_CACHE = Memo("ivf_assign", release=DataFrame.unpersist)
_IVF_INDEX_CACHE = Memo("ivf_index")

_IVF_INDEX_SCHEMA = (
    "vec_id bigint, embedding array<float>, label int, d bigint, cluster int"
)


def _ivf_assigned(
    spark: SparkSession, sf_dir: str, cents: list[list[int]]
) -> DataFrame:
    """(vec_id, embedding, label, d, cluster) for the whole corpus —
    the exact-integer cell assignment computed ONCE per session and
    kept in the columnar cache; knn_ivf / knn_cell_stats (and the index
    writer below) all read this InMemoryRelation instead of replaying
    the 16×64 interpreted distance fold per query."""

    def assign() -> DataFrame:
        e = Tables(spark, sf_dir).embeddings
        v = e.select(
            "vec_id",
            "embedding",
            "label",
            _micro(F.col("embedding")).alias("_vi"),
        )
        cluster, dmin = _cell_assign_cols("_vi", cents)
        return v.select(
            "vec_id",
            "embedding",
            "label",
            dmin.alias("d"),
            cluster.alias("cluster"),
        ).cache()

    return _IVF_ASSIGN_CACHE((app_id(spark), sf_dir), assign)


def _ivf_index(
    spark: SparkSession, sf_dir: str, cents: list[list[int]]
) -> str:
    """Write the assigned corpus PARTITIONED BY its IVF cell id, once
    per session — the materialized layout that turns a probe into a
    partition-pruned file scan (cluster ∈ probes never opens the other
    cell directories, and row predicates push to parquet row groups).
    knn_ivf_pruned and knn_filter read this index; returns the path.

    Every write gets a directory of its own (a random tag), so a write
    never overwrite-deletes files that a scan still lists: not another
    process's index over the same corpus (a race reproduced with three
    concurrent Spark apps; the memo's build lock is process-local and
    cannot guard a machine-global path), and not this process's older
    index, which a running query or a memoized plan may still read after
    the corpus changed or the memo entry was dropped. Pinned by the
    two-process cold-cache test in tests/test_concurrent.py."""
    import os as _os
    import uuid as _uuid

    from ..scratch import SCRATCH, owned

    app = app_id(spark)

    def write() -> str:
        note_read(sf_dir, "embeddings")
        assigned = _ivf_assigned(spark, sf_dir, cents)
        tag = f"{_os.path.basename(_os.path.normpath(sf_dir))}_{_uuid.uuid4().hex[:10]}"
        out = owned(_os.path.join(SCRATCH, f"ivf_index_{tag}"))
        assigned.write.mode("overwrite").partitionBy("cluster").parquet(out)
        return out

    out = _IVF_INDEX_CACHE((app, sf_dir), write)
    try:
        # keep a long-lived server's index younger than the stale-GC TTL
        # for as long as queries keep arriving (scratch.py contract)
        _os.utime(out)
    except OSError:
        pass
    return out


#: SQL twins of _micro and vector.sq_dist_int_sql (int64-exact, order-free).
_IVF_MICRO_SQL = "list_transform({a}, x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT)"
_IVF_DIST_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _ivf_lloyd_round(i: int, prev: str) -> str:
    """One unrolled Lloyd CTE block: assign sample to ``prev`` centroids
    (ties → lowest cid), then per-cluster integer half-up mean
    floor((2Σ + n)/(2n)) with empty clusters keeping their previous
    centroid — the exact SQL replay of _ivf_centroids' numpy loop."""
    d = _IVF_DIST_SQL.format(a="s.vi", b="c.cvec")
    return f"""
d{i} AS (SELECT s.vec_id, s.vi, c.cid, {d} AS d
         FROM samp s CROSS JOIN {prev} c),
a{i} AS (SELECT vec_id, vi, cid FROM d{i}
         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
x{i} AS (SELECT cid, generate_subscripts(vi, 1) AS dim1, unnest(vi) AS v
         FROM a{i}),
m{i} AS (SELECT cid, dim1, sum(v)::BIGINT AS sv, count(*)::BIGINT AS cnt
         FROM x{i} GROUP BY 1, 2),
g{i} AS (SELECT cid,
                list(floor((2 * sv + cnt) / (2.0 * cnt))::BIGINT
                     ORDER BY dim1) AS cvec
         FROM m{i} GROUP BY cid),
c{i} AS (SELECT p.cid, coalesce(g{i}.cvec, p.cvec) AS cvec
         FROM {prev} p LEFT JOIN g{i} ON g{i}.cid = p.cid)"""


#: shared oracle prefix: trained centroids (c2) + every vector's cell —
#: reused verbatim by knn_ivf, knn_ivf_pruned, knn_cell_stats and
#: knn_semdedup so the quantizer replay exists in exactly one spelling.
_IVF_CELLS_CTE = f"""e AS (
  SELECT vec_id, embedding,
         {_IVF_MICRO_SQL.format(a="embedding")} AS vi
  FROM embeddings
),
nc AS (SELECT count(*) AS n FROM e),
samp AS (
  SELECT vec_id, vi, row_number() OVER (ORDER BY vec_id) AS rn
  FROM e, nc
  WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 4))::BIGINT
        < greatest(1, {65536 * IVF_TRAIN_CAP} // nc.n)
),
ns AS (SELECT greatest(1, count(*) // {IVF_K}) AS stride FROM samp),
seeds AS (
  SELECT ((rn - 1) // ns.stride)::INT AS cid, vi AS cvec
  FROM samp, ns
  WHERE (rn - 1) % ns.stride = 0 AND (rn - 1) // ns.stride < {IVF_K}
),{_ivf_lloyd_round(1, "seeds")},{_ivf_lloyd_round(2, "c1")}"""

_IVF_ORACLE = f"""
WITH {_IVF_CELLS_CTE},
q AS (SELECT embedding AS qe, vi AS qi FROM e WHERE vec_id = {QUERY_VEC_ID}),
probes AS (
  SELECT c.cid FROM q CROSS JOIN c2 c
  ORDER BY {_IVF_DIST_SQL.format(a="q.qi", b="c.cvec")}, c.cid
  LIMIT {IVF_NPROBE}
),
asg AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_IVF_DIST_SQL.format(a="e.vi", b="c.cvec")} AS d
  FROM e CROSS JOIN c2 c
  WHERE e.vec_id <> {QUERY_VEC_ID}
),
cell AS (
  SELECT vec_id, embedding, cid AS cluster FROM asg
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
),
scored AS (
  SELECT cell.vec_id, cell.cluster,
         round({DUCK_DOT.format(a="cell.embedding", b="q.qe")}
               / ({DUCK_NORM.format(a="cell.embedding")}
                  * {DUCK_NORM.format(a="q.qe")}), 6) AS cos_sim
  FROM cell, q
  WHERE cell.cluster IN (SELECT cid FROM probes)
)
SELECT vec_id, cluster, cos_sim FROM scored
QUALIFY row_number() OVER (ORDER BY cos_sim DESC, vec_id) <= 10
"""


@query("knn_ivf", category="J.sim", tags=("side_effects",), oracle=_IVF_ORACLE)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via IVF (inverted-file) coarse quantization — the
    other canonical ANN scale path next to knn_lsh. Corpus vectors are
    assigned to K=16 learned centroids; the query probes its NPROBE=4
    nearest cells and scans only those exactly (candidates ≈ n·NPROBE/K
    instead of n). At 100 TB: persist the cell id as a partition column
    so a probe is a partition-pruned scan (files outside the 4 cells are
    never opened), train centroids on a sample, and raise K with corpus
    size (K ≈ sqrt(n) keeps cells scan-sized). Deterministic end-to-end:
    stride seeds + integer-exact Lloyd rounds on micro-quantized
    vectors, no RNG — and since round 8 the learned centroids ARE SQL:
    _IVF_ORACLE replays sampling, seeding, both Lloyd rounds, probe
    selection and assignment as unrolled CTEs in exact int64 (verdict
    item 2 — rows-only → exact oracle). Recall + exactness pytests vs
    knn_bruteforce in tests/test_similarity.py. Corpus assignment is
    session-scoped (_ivf_assigned, round-9 verdict item 4): the whole
    IVF family shares one assignment pass per corpus, the in-memory
    twin of the ingest-time cell column a production store persists."""
    cents = _ivf_centroids(spark, sf_dir)
    qv = _query_vector(spark, sf_dir)
    if cents is None or qv is None:  # empty corpus / missing query row
        return spark.createDataFrame(
            [], "vec_id bigint, cluster int, cos_sim double"
        )
    probes = _probe_cells(cents, qv)
    return (
        _ivf_assigned(spark, sf_dir, cents)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .filter(F.col("cluster").isin(probes))
        .select(
            "vec_id",
            "cluster",
            F.expr(
                f"round({cosine_sql('embedding', qv, unroll=True)}, 6)"
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "emb_quantize",
    category="J.sim",
    oracle="""
WITH q AS (
  SELECT vec_id,
         127.0 / list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
           AS scale,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
quant AS (
  SELECT vec_id, scale,
         list_transform(v, x ->
           greatest(-127.0, least(127.0, floor(x * scale + 0.5)))) AS qv,
         v
  FROM q
),
err AS (
  SELECT vec_id, scale,
         len(list_filter(qv, x -> abs(x) = 127.0))::BIGINT AS n_saturated,
         list_transform(list_zip(v, qv), p ->
           abs(p[1] - p[2] / scale)) AS e
  FROM quant
)
SELECT vec_id, round(scale, 6) AS scale, n_saturated,
       round(list_max(e), 6) AS max_abs_err,
       round(list_sum(e) / 64, 6) AS mean_abs_err
FROM err
""",
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization with reconstruction-error audit — the
    compression step a 100 TB vector store runs before indexing (4×
    smaller than float32, BLAS int8 kernels downstream). Per vector:
    symmetric absmax scale (127/max|x|), q = clamp(floor(x·scale+0.5)),
    then the dequantization error stats that decide whether int8 is safe
    for the corpus. Everything is per-row array math — zero shuffle, one
    parquet scan, whole-stage codegen'd lambda folds (no UDF). Float
    discipline: floor(x+0.5) instead of round() (identical binary-double
    semantics on both engines — round() differs on rendering vs binary),
    max/elementwise ops are order-free, and the one sequential fold
    (list_sum for the mean) mirrors F.aggregate's fold exactly.

    Perf note: v / scale / qv / err are NAMED intermediate columns
    (chained selects), never inlined Column expressions — inlining
    re-evaluates `scale`'s array_max inside every per-element lambda
    (O(dim²) expression blowup; measured 17× slower at sf0.1)."""
    e = Tables(spark, sf_dir).embeddings
    d1 = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    d2 = d1.select(
        "vec_id",
        "v",
        (F.lit(127.0) / F.array_max(F.transform(F.col("v"), F.abs))).alias(
            "scale"
        ),
    )
    # floor(x*scale + 0.5): nearest-int quantization, deterministic ties
    d3 = d2.select(
        "vec_id",
        "v",
        "scale",
        F.transform(
            F.col("v"),
            lambda x: F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.floor(x * F.col("scale") + F.lit(0.5))),
            ),
        ).alias("qv"),
    )
    d4 = d3.select(
        "vec_id",
        "scale",
        "qv",
        F.zip_with("v", "qv", lambda x, q: F.abs(x - q / F.col("scale"))).alias(
            "err"
        ),
    )
    return d4.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.size(F.filter("qv", lambda x: F.abs(x) == 127.0))
        .cast("long")
        .alias("n_saturated"),
        F.round(F.array_max("err"), 6).alias("max_abs_err"),
        F.round(
            F.aggregate("err", F.lit(0.0), lambda acc, x: acc + x) / F.lit(64.0),
            6,
        ).alias("mean_abs_err"),
    )


@query(
    "knn_ivf_pruned",
    category="J.sim",
    tags=("side_effects",),
    oracle=_IVF_ORACLE,  # identical result contract to knn_ivf — the
    # partitioned write/pruned read is a physical rewrite, not semantics
    # (the dedup_jaccard_prefix shared-oracle precedent)
)
def knn_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_ivf's persisted form: the corpus is WRITTEN partitioned by its
    IVF cell id, so the probe is a partition-pruned scan — Spark's file
    index drops the 12 non-probed cell directories before any IO
    (PartitionFilters in the scan node; tests/test_similarity.py asserts
    inputFiles() touches only the 4 probed cells). This is the layout
    that makes IVF an index at 100 TB: cell assignment is paid ONCE at
    write time, and every query reads candidates ≈ n·NPROBE/K straight
    off the file listing — the vector-search twin of sink_zorder's
    data-skipping story. Scores and results are identical to knn_ivf
    (same centroids, same JVM cosine fold)."""
    cents = _ivf_centroids(spark, sf_dir)
    qv = _query_vector(spark, sf_dir)
    if cents is None or qv is None:  # empty corpus / missing query row
        return spark.createDataFrame(
            [], "vec_id bigint, cluster int, cos_sim double"
        )
    probes = _probe_cells(cents, qv)
    out = _ivf_index(spark, sf_dir, cents)  # written once per session
    back = spark.read.schema(_IVF_INDEX_SCHEMA).parquet(out)
    return (
        back.filter(F.col("cluster").isin(probes))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.expr(
                f"round({cosine_sql('embedding', qv, unroll=True)}, 6)"
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


#: SemDeDup pruning threshold — fixture embeddings are near-isotropic
#: (within-cluster cosines ≈ N(0, 1/8)), so 0.3 ≈ 2.4σ exercises the
#: survivor rule with a realistic drop fraction; production corpora run
#: ε ≈ 0.9+ (Abbas et al. 2023 report ~50% web-data drops at ε≈0.95).
SEMDEDUP_T = 0.3


def _cell_assign_cols(micro_col_sql: str, cents: list[list[int]]):
    """(cluster, sqdist-to-own-centroid) from the exact integer
    distances, ties to the lowest cluster id. Takes the name of a
    MATERIALIZED micro-unit column (round 14): quantize once per row in
    a separate projection, not once per centroid inside the distance
    expressions."""
    dists = F.array(*[F.expr(sq_dist_int_sql(micro_col_sql, c)) for c in cents])
    dmin = F.array_min(dists)
    cluster = (F.array_position(dists, dmin) - 1).cast("int")
    return cluster, dmin


@query(
    "knn_cell_stats",
    category="J.sim",
    oracle=f"""
WITH {_IVF_CELLS_CTE},
asg AS (
  SELECT e.vec_id, c.cid,
         {_IVF_DIST_SQL.format(a="e.vi", b="c.cvec")} AS d
  FROM e CROSS JOIN c2 c
),
cell AS (
  SELECT vec_id, cid AS cluster, d FROM asg
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
),
g AS (SELECT cluster, count(*) AS n, sum(d)::BIGINT AS sd
      FROM cell GROUP BY 1),
t AS (SELECT sum(n)::BIGINT AS nt FROM g)
SELECT cluster::INT AS cluster, n::BIGINT AS n_vectors,
       round(n::DOUBLE / t.nt, 6) AS share,
       ((2 * sd + n) // (2 * n))::BIGINT AS avg_sqdist
FROM g, t
""",
)
def knn_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-balance audit: per-cell population share and mean
    squared distance to the owning centroid (micro-units²) — the
    dashboard that decides whether the coarse quantizer needs
    retraining. A skewed share column means hot cells (probe latency
    ceiling: a probe scans its cells end-to-end), and a cell whose
    avg_sqdist outgrows the others is a quantization-drift signal
    (corpus moved since training — the index equivalent of
    quality_drift_psi). Exact end-to-end: assignment and distances ride
    the same integer micro-unit pipeline as knn_ivf (shared
    _IVF_CELLS_CTE oracle prefix), the per-cell sums are order-free
    int64, the mean is the integer half-up identity (2Σ+n)//(2n)
    (rounding the ~1e11-magnitude double quotient to 6 dp diverges in
    the last ulp across engines), and share is one identical double
    division. Scale: one scan + one 16-row aggregate — the audit costs
    one pass regardless of corpus size; the global total rides a
    16-row window, never a second scan."""
    cents = _ivf_centroids(spark, sf_dir)
    if cents is None:  # empty corpus → no cells to audit
        return spark.createDataFrame(
            [],
            "cluster int, n_vectors bigint, share double, avg_sqdist bigint",
        )
    g = (
        _ivf_assigned(spark, sf_dir, cents)
        .select("cluster", "d")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("d").alias("sd"))
    )
    wt = Window.partitionBy()
    return g.select(
        "cluster",
        F.col("n").cast("long").alias("n_vectors"),
        F.round(F.col("n").cast("double") / F.sum("n").over(wt), 6).alias(
            "share"
        ),
        # exact integer half-up mean (micro-units²): rounding the ~1e11
        # double quotient to 6 dp differs in the last ulp across engines
        # (first-cut trap) — the Lloyd-mean integer identity doesn't
        F.expr("(2 * sd + n) div (2 * n)").cast("long").alias("avg_sqdist"),
    )


@query(
    "knn_semdedup",
    category="J.sim",
    oracle=f"""
WITH {_IVF_CELLS_CTE},
asg AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_IVF_DIST_SQL.format(a="e.vi", b="c.cvec")} AS d
  FROM e CROSS JOIN c2 c
),
cell AS (
  SELECT vec_id, embedding, cid AS cluster FROM asg
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
),
cs AS (
  SELECT cell.vec_id, cell.embedding, cell.cluster,
         {DUCK_NORM.format(a="cell.embedding")} AS nrm,
         {DUCK_DOT.format(a="cell.embedding", b="cd.cvd")}
           / ({DUCK_NORM.format(a="cell.embedding")}
              * {DUCK_NORM.format(a="cd.cvd")}) AS csim
  FROM cell
  JOIN (SELECT cid, list_transform(cvec, v -> v::DOUBLE / 1000000) AS cvd
        FROM c2) cd
    ON cd.cid = cell.cluster
),
drops AS (
  SELECT DISTINCT x.vec_id
  FROM cs x JOIN cs y
    ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
  WHERE {DUCK_DOT.format(a="x.embedding", b="y.embedding")}
          / (x.nrm * y.nrm) >= {SEMDEDUP_T}
    AND (y.csim < x.csim OR (y.csim = x.csim AND y.vec_id < x.vec_id))
)
SELECT cluster::INT AS cluster, count(*)::BIGINT AS n_vectors,
       count(*) FILTER (WHERE vec_id IN (SELECT vec_id FROM drops))::BIGINT
         AS n_dropped,
       round(count(*) FILTER (WHERE vec_id IN (SELECT vec_id FROM drops))
             * 1.0 / count(*), 6) AS drop_ratio
FROM cs GROUP BY cluster
""",
)
def knn_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup scoped to the
    learned IVF cells — the modern curation step between exact/minhash
    dedup (same bytes/shingles) and nothing: embedding-near documents
    that SHARE NO n-grams (translations, templated rewrites,
    paraphrases) still collapse. Pipeline: (1) assign every vector to
    its IVF cell (the knn_ivf quantizer, shared verbatim), (2) ONLY
    within a cell, mark x dropped when a cell-mate y has
    cos(x, y) ≥ ε and y sits closer in rank to the centroid — the
    paper's keep-one-per-duplicate-group rule made deterministic by
    the (centroid-cosine, vec_id) total order, (3) report per-cell
    keep/drop accounting. Why cluster-scoped is THE scale shape: the
    all-pairs cosine space is n², but near-dups land in the same cell
    (dedup_embedding covers the global-pair form at broadcast scale),
    so the join is cluster-partitioned with Σ nᵢ² work and K ≈ √n
    keeps cells bounded — the 100 TB plan is shuffle-by-cell then
    per-cell pairs, never a global product. Exactness: cell ids are
    integer-exact (micro-unit distances), both cosine folds are the
    bit-identical sequential double fold on both engines, and the
    drop decision compares those identical doubles (ARCHITECTURE §4
    decision-in-doubles rule), so the oracle replays candidate sets
    AND survivor choices exactly."""
    import math

    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    e = Tables(spark, sf_dir).embeddings
    cents = _ivf_centroids(spark, sf_dir)
    if cents is None:  # empty corpus → nothing to dedup
        return spark.createDataFrame(
            [],
            "cluster int, n_vectors bigint, n_dropped bigint, "
            "drop_ratio double",
        )
    cents_np = np.array(cents, dtype=np.int64)
    cvd = [[v / 1000000 for v in c] for c in cents]

    def _assign_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Per-batch: micro-quantize (identical elementwise doubles to
        _micro), assign cells by EXACT int64 distance (numpy integer
        matmul ≡ the JVM fold — order-free integers), then nrm/csim as
        SEQUENTIAL per-row Python folds (bit-identical to the oracle's
        list_sum; numpy's unrolled accumulators would NOT be). One
        Arrow pass replaces the 16×64-literal interpreted fold tree,
        measured ~5× on this stage."""
        for pdf in batches:
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            vi = np.floor(mat * 1000000.0 + 0.5).astype(np.int64)
            d2 = (
                (vi * vi).sum(axis=1)[:, None]
                - 2 * (vi @ cents_np.T)
                + (cents_np * cents_np).sum(axis=1)[None, :]
            )
            cl = np.argmin(d2, axis=1)
            nrms, csims = [], []
            for i in range(len(mat)):
                acc = 0.0
                for x in mat[i]:
                    acc += x * x
                nrm_i = math.sqrt(acc)  # Math.sqrt twin, NOT pow(x, .5)
                cv = cvd[cl[i]]
                accn = 0.0
                for x in cv:
                    accn += x * x
                accd = 0.0
                for x, y in zip(mat[i], cv):
                    accd += x * y
                nrms.append(nrm_i)
                csims.append(accd / (nrm_i * math.sqrt(accn)))
            yield pd.DataFrame(
                {
                    "cluster": cl.astype(np.int32),
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "nrm": nrms,
                    "csim": csims,
                }
            )

    cs = (
        e.select("vec_id", "embedding")
        .mapInPandas(
            _assign_score,
            "cluster int, vec_id bigint, embedding array<float>, "
            "nrm double, csim double",
        )
        .cache()  # feeds candidates + both rescore sides + the final
        # accounting — never re-derived (jaccard_prefix rule)
    )
    # candidate pairs per cell via blocked BLAS (the dedup_embedding
    # escape hatch, here GROUPED: applyInPandas per cluster, so the
    # pair space is Σnᵢ² and the shuffle key is the cell — the exact
    # 100 TB shape). The epsilon-relaxed cut only prunes; the decision
    # threshold and survivor order are re-derived JVM-side below.
    import numpy as np
    import pandas as pd

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        ids = np.array(pdf["vec_id"], dtype=np.int64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / (nrm[:, None] * nrm[None, :])
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= SEMDEDUP_T - 1e-6
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b)}
        )

    cand = cs.select("cluster", "vec_id", "embedding").groupBy(
        "cluster"
    ).applyInPandas(_cell_pairs, "vec_a BIGINT, vec_b BIGINT")
    ca = cs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        F.col("csim").alias("csim_a"),
    )
    cb = cs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.col("csim").alias("csim_b"),
    )
    pair_cos = F.expr(
        f"({dot_sql('emb_a', 'emb_b', unroll=True)}) / (nrm_a * nrm_b)"
    )
    # per qualifying pair the member LARGER in the (csim, vec_id) total
    # order is dropped — ≡ the oracle's EXISTS-a-smaller-neighbor rule
    drops = (
        cand.join(F.broadcast(ca), "vec_a")
        .join(F.broadcast(cb), "vec_b")
        .where(pair_cos >= SEMDEDUP_T)
        .select(
            F.when(
                (F.col("csim_a") > F.col("csim_b"))
                | (
                    (F.col("csim_a") == F.col("csim_b"))
                    & (F.col("vec_a") > F.col("vec_b"))
                ),
                F.col("vec_a"),
            )
            .otherwise(F.col("vec_b"))
            .alias("vec_id")
        )
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return (
        cs.join(F.broadcast(drops), "vec_id", "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.coalesce(F.col("dropped"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
        .select(
            "cluster",
            "n_vectors",
            "n_dropped",
            F.round(
                F.col("n_dropped") * F.lit(1.0) / F.col("n_vectors"), 6
            ).alias("drop_ratio"),
        )
    )


N_TABLES = 8  # independent LSH tables for the JOIN (recall ~1-(1-p)^T)
PLANES_PER_TABLE = 4  # shorter codes per table -> higher per-table p


def _join_bucket_exprs(col_sql: str):
    """One bucket id per hash table: table t uses hyperplanes
    [t*PLANES_PER_TABLE, (t+1)*PLANES_PER_TABLE) — independent codes
    from one shared deterministic plane family. Takes the column as SQL
    text: each table's bucket is ONE server-side-parsed expression
    (round 14 — 32 py4j-built literal-plane dots cost 28-32 s of driver
    time per fresh knn_join_lsh build)."""
    out = []
    for t in range(N_TABLES):
        out.append(
            F.expr(
                " + ".join(
                    f"(CASE WHEN ({dot_sql(col_sql, _hyperplane(t * PLANES_PER_TABLE + j))}) >= 0"
                    f" THEN {1 << j} ELSE 0 END)"
                    for j in range(PLANES_PER_TABLE)
                )
            )
        )
    return out


def _lsh_join_oracle() -> str:
    """SQL replay of knn_join_lsh: N_TABLES bucket ids per vector with
    the literal hyperplanes (zipped unnests), per-table bucket joins,
    DISTINCT candidate pairs, exact re-score, window top-3."""
    bucket_sql = lambda t: " + ".join(
        f"CASE WHEN {DUCK_DOT.format(a='embedding', b=_plane_sql(t * PLANES_PER_TABLE + j))} >= 0"
        f" THEN {1 << j} ELSE 0 END"
        for j in range(PLANES_PER_TABLE)
    )
    buckets_arr = ", ".join(f"({bucket_sql(t)})" for t in range(N_TABLES))
    tables_arr = ", ".join(str(t) for t in range(N_TABLES))
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         unnest([{tables_arr}]) AS tbl,
         unnest([{buckets_arr}]) AS bucket
  FROM embeddings
),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_id, y.vec_id AS nbr_id
  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
  WHERE x.vec_id <> y.vec_id
),
scored AS (
  SELECT c.vec_id, c.nbr_id,
         round({DUCK_DOT.format(a="ea.embedding", b="eb.embedding")}, 6)
           AS score
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_id
  JOIN embeddings eb ON eb.vec_id = c.nbr_id
)
SELECT vec_id, nbr_id, score
FROM (SELECT vec_id, nbr_id, score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, nbr_id) AS rn
      FROM scored)
WHERE rn <= 3
"""


@query("knn_join_lsh", category="J.sim", oracle=_lsh_join_oracle())
def knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN beyond broadcast scale: N_TABLES independent LSH
    bucketings, candidate pairs only within a (table, bucket) cell,
    DISTINCT pairs exact-rescored, window top-3 — the all-pairs scale
    path for ``knn_join``/``dedup_embedding`` once the corpus outgrows
    a broadcast matrix. The classic LSH-join dials: candidates ≈
    T · n²/2^planes (vs n² exact); per-table recall p = P(4 agreeing
    sign bits) and union recall 1-(1-p)^T — shorter codes per table
    raise p, more tables compound it (measured 0.68 @ k=3 on the
    fixture vs exact knn_join — floor pinned at 0.6 in
    tests/test_similarity.py). Every join is
    a hash-partitionable equi-join; dedup happens on pair KEYS before
    any scoring, so the expensive dot runs once per surviving pair.

    Determinism: buckets are sign decisions on literal-plane
    sequential-fold dots; scores re-use the oracle-matched JVM dot;
    (score DESC, nbr_id) ranks identically both engines — an EXACT
    oracle for the approximate join (the approximation is in which
    pairs exist, pinned by the same bucketing both sides).

    Round-14 candidate stage (VERDICT r13 #3): the round-13 form
    self-joined the bucket frame — at fixture scale that planned as a
    broadcast join whose pair stream, partial dedup and all was
    generated in the ONE partition of the single-row-group scan (the
    distinct stage measured 7.9 s single-threaded), and the frame had
    to be .cache()'d because it fed both join sides. Now the join is
    the CELL form (the cooccur_parts basket discipline): ONE
    map-side-combined groupBy(tbl, bucket).collect_set exchange,
    directed pairs generated cell-locally (mega-cells chunk-split by
    functions/pairs.py, so one hot bucket cannot pin a task), partial
    pair dedup below the global distinct exchange. The bucketing pass
    runs with NO cache. The two pair branches share the cell exchange
    only through AQE stage reuse at run time: the static plan
    (plans/r14/knn_join_lsh_after.txt) holds the bucketing and
    collect_set subtree twice with no ReusedExchange node, so a session
    with AQE off pays the bucketing pass twice (time only; results are
    unchanged). fan_out_scan parallelizes the
    32-plane bucketing over the under-split local scan (no-op at real
    scale). Candidate SET unchanged: pairs (x ≠ y) sharing ≥1
    (tbl, bucket) cell, exactly as before — vec_ids are unique within
    a cell (one row per (vec, tbl)), NULL vec_ids drop on both forms
    (collect_set vs the old NULL-propagating ≠ filter)."""
    e = Tables(spark, sf_dir).embeddings
    # fan out ONLY the bucketing input — the ea/eb rescore sides are
    # broadcast dimensions and must stay plain scans
    b = fan_out_scan(e, spark).select(
        "vec_id",
        F.posexplode(F.array(*_join_bucket_exprs("embedding"))).alias(
            "tbl", "bucket"
        ),
    )
    cells = b.groupBy("tbl", "bucket").agg(
        F.sort_array(F.collect_set("vec_id")).alias("members")
    )
    cand = skew_safe_pairs(
        cells,
        ["tbl", "bucket"],
        "members",
        directed=True,
        a_name="vec_id",
        b_name="nbr_id",
    ).distinct()
    ea = e.select("vec_id", F.col("embedding").alias("emb_a"))
    eb = e.select(
        F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("emb_b")
    )
    scored = (
        cand.join(F.broadcast(ea), "vec_id")
        .join(F.broadcast(eb), "nbr_id")
        .select(
            "vec_id",
            "nbr_id",
            F.expr(
                f"round({dot_sql('emb_a', 'emb_b', unroll=True)}, 6)"
            ).alias("score"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("vec_id", "nbr_id", "score")
    )


_PQ_SUB = 4  # subspaces
_PQ_DIM = 16  # dims per subspace (4 × 16 = 64)
_PQ_K = 4  # codewords per subspace (vec_id 0..3's subvectors)

_PQ_DIST = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)))"
)

_PQ_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {_PQ_K}
),
d AS (
  SELECT e.vec_id, s.s, c.cid,
         round(CASE s.s
           {" ".join(
               f"WHEN {s} THEN "
               + _PQ_DIST.format(
                   a=f"e.embedding[{s * _PQ_DIM + 1}:{(s + 1) * _PQ_DIM}]",
                   b=f"c.cv[{s * _PQ_DIM + 1}:{(s + 1) * _PQ_DIM}]",
               )
               for s in range(_PQ_SUB)
           )}
         END, 6) AS d6
  FROM embeddings e
  CROSS JOIN c
  CROSS JOIN (SELECT unnest(range({_PQ_SUB})) AS s) s
),
best AS (
  SELECT vec_id, s, cid, d6
  FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d6, cid) = 1
)
SELECT vec_id,
       max(CASE WHEN s = 0 THEN cid END)::BIGINT AS code0,
       max(CASE WHEN s = 1 THEN cid END)::BIGINT AS code1,
       max(CASE WHEN s = 2 THEN cid END)::BIGINT AS code2,
       max(CASE WHEN s = 3 THEN cid END)::BIGINT AS code3,
       round(sum(d6::DECIMAL(18,6))::DOUBLE, 6) AS qerr
FROM best GROUP BY 1
"""


@query("knn_pq", category="J.sim", oracle=_PQ_ORACLE)
def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011, the FAISS
    memory-compression path that complements knn_ivf's pruning): split
    each 64-dim embedding into 4×16-dim subvectors and snap each to its
    nearest codeword, turning a 256-byte vector into a 4-byte code —
    the representation a 100 TB ANN index actually stores. The codebook
    here is the deterministic seed rule used across the registry
    (ml_kmeans/knn_ivf): the first k vec_ids' subvectors — a ≤k-row
    BROADCAST, so encoding is map-side distance algebra plus ONE
    vec_id-keyed window shuffle; no iteration, no driver loop.

    Exactness: squared L2 per subspace folds (x−y)² in DIM order
    (fsum ≡ the oracle's list_zip/list_sum — float32 lanes cast to
    double first, both engines), each distance rounds to 6 dp BEFORE
    the argmin, and the winner is row_number over (d6, cid) — the
    round-then-total-order argmax recipe, so near-tie codewords can't
    flip between engines. The reconstruction error sums the 4 rounded
    subspace distances as DECIMAL(18,6) (exact, order-free)."""
    e = Tables(spark, sf_dir).embeddings
    c = (
        e.where(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    )

    def subdist(s: int) -> F.Column:
        a = F.slice(F.col("embedding"), s * _PQ_DIM + 1, _PQ_DIM)
        b = F.slice(F.col("cv"), s * _PQ_DIM + 1, _PQ_DIM)
        diff2 = F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        return F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)

    pairs = e.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "cid",
        F.posexplode(
            F.array(*[F.round(subdist(s), 6) for s in range(_PQ_SUB)])
        ).alias("s", "d6"),
    )
    w = Window.partitionBy("vec_id", "s").orderBy("d6", "cid")
    best = pairs.select(
        "vec_id", "s", "cid", "d6", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") == 1)
    code = lambda s: F.max(  # noqa: E731
        F.when(F.col("s") == s, F.col("cid"))
    ).cast("long").alias(f"code{s}")
    return best.groupBy("vec_id").agg(
        code(0),
        code(1),
        code(2),
        code(3),
        F.round(
            dsum("d6", scale=6), 6
        ).alias("qerr"),
    )


def _recall_oracle() -> str:
    """Composes the knn_join (exact ground truth) and knn_join_lsh
    (approximate) oracles verbatim as CTEs — one shared definition per
    pipeline, so the audit's notion of "exact" and "approx" can never
    drift from the operators it audits (the _md5_int_sql precedent)."""
    from ..registry import REGISTRY

    exact = REGISTRY["knn_join"].oracle
    approx = REGISTRY["knn_join_lsh"].oracle
    return f"""
WITH exact AS ({exact}),
approx AS ({approx}),
per_vec AS (
  SELECT e.vec_id, count(a.vec_id)::BIGINT AS hits
  FROM exact e LEFT JOIN approx a
    ON a.vec_id = e.vec_id AND a.nbr_id = e.nbr_id
  GROUP BY e.vec_id
)
SELECT hits, count(*)::BIGINT AS n_vectors,
       round(count(*)::DOUBLE / (sum(count(*)) OVER ())::DOUBLE, 6) AS share
FROM per_vec GROUP BY hits
"""


@query("knn_recall", category="J.sim", oracle=_recall_oracle())
def knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 audit of the LSH k-NN join against exact ground truth —
    the acceptance gate a 100 TB deployment runs (on a sampled shard)
    before swapping brute force for the bucketed index: per vector,
    how many of the exact top-3 does knn_join_lsh recover? Output is
    the hits histogram (hits ∈ 0..3, n_vectors, share); micro-recall =
    Σ(hits·n)/3n ≈ 0.68 on the fixture (floor 0.6 pinned in
    tests/test_similarity.py long before this became a first-class
    query). Composes the two REGISTERED operators — plan and oracle
    both reuse the audited pipelines' own definitions, so the audit
    can't measure a stale variant. The left join from exact keeps
    0-hit vectors in the histogram (every vector has exactly 3 exact
    rows); the comparison is on integer pair KEYS, so the audit adds
    no float surface of its own. Scale shape: two vec_id-keyed
    equi-joins plus a 4-row final aggregate — the expensive parts ARE
    the audited operators."""
    exact = knn_join(spark, sf_dir).select("vec_id", "nbr_id")
    approx = (
        knn_join_lsh(spark, sf_dir)
        .select("vec_id", "nbr_id")
        .withColumn("found", F.lit(1))
    )
    per_vec = (
        exact.join(approx, ["vec_id", "nbr_id"], "left")
        .groupBy("vec_id")
        .agg(F.sum(F.coalesce(F.col("found"), F.lit(0))).alias("hits"))
    )
    # ≤4-row grouped frame — the unpartitioned window is a constant-size
    # final reduce, same shape as the registry's other scalar shares.
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_vec.groupBy("hits")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(
            F.col("hits").cast("long").alias("hits"),
            "n_vectors",
            F.round(
                F.col("n_vectors") / F.sum("n_vectors").over(w), 6
            ).alias("share"),
        )
    )


@query(
    "ml_silhouette",
    category="J.sim",
    oracle="""
WITH cent AS (
  SELECT label, g.i AS i, round(avg(embedding[g.i]::DOUBLE), 6) AS c
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY label, g.i
),
carr AS (
  SELECT label AS clabel, list(c ORDER BY i) AS cv FROM cent GROUP BY 1
),
d AS (
  SELECT e.vec_id, e.label, carr.clabel,
         sqrt(list_sum(list_transform(list_zip(e.embedding, carr.cv),
              p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2])))) AS dist
  FROM embeddings e CROSS JOIN carr
),
ab AS (
  SELECT vec_id, label,
         min(CASE WHEN label = clabel THEN dist END) AS da,
         min(CASE WHEN label <> clabel THEN dist END) AS db
  FROM d GROUP BY 1, 2
),
s AS (
  SELECT vec_id, label,
         round((db - da) / greatest(da, db), 6)::DECIMAL(9,6) AS sil
  FROM ab
)
SELECT label, count(*)::BIGINT AS n,
       round(sum(sil)::DOUBLE / count(*), 6) AS avg_silhouette
FROM s GROUP BY 1
""",
)
def ml_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label — the
    clustering-quality eval for the labeled embedding space: for each
    vector, a = distance to its OWN label centroid, b = the nearest
    OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1]. The simplified form
    (Hruschka et al.) replaces the full silhouette's O(n²) pairwise
    pass with O(n·k) centroid distances — the ONLY silhouette that
    exists at 100 TB, and it needs just the emb_label_centroids
    aggregate plus one broadcast crossJoin (k ≤ dozens of rows).

    Float discipline: centroids are the 6-dp-rounded per-dim means
    (emb_label_centroids' avg-parity precedent — float32 lanes forbid
    decimal-grid sums), so both engines measure distances to IDENTICAL
    doubles; each per-vector s rounds to 6 dp and pins to DECIMAL(9,6)
    before the per-label mean, which is then an exact decimal sum and
    one final division."""
    e = Tables(spark, sf_dir).embeddings
    cent = (
        e.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
    )
    carr = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col("i"), F.col("c")))),
            lambda s: s.getField("c"),
        ).alias("cv")
    )
    diff2 = F.zip_with(
        F.col("embedding"),
        F.col("cv"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    dist = F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v))
    d = e.crossJoin(F.broadcast(carr)).select(
        "vec_id", "label", "clabel", dist.alias("dist")
    )
    own = F.col("label") == F.col("clabel")
    ab = d.groupBy("vec_id", "label").agg(
        F.min(F.when(own, F.col("dist"))).alias("da"),
        F.min(F.when(~own, F.col("dist"))).alias("db"),
    )
    sil = (
        F.round(
            (F.col("db") - F.col("da"))
            / F.greatest(F.col("da"), F.col("db")),
            6,
        )
    ).cast("decimal(9,6)")
    s = ab.select("label", sil.alias("sil"))
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum("sil").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_silhouette"),
    )


def _mmr_oracle() -> str:
    """Generated oracle for knn_mmr: the greedy selection unrolled into
    one CTE per pick (k is a fixed literal, so unrolling is exact)."""
    cos = (
        f"round({DUCK_DOT.format(a='{a}', b='{b}')}"
        f" / ({DUCK_NORM.format(a='{a}')} * {DUCK_NORM.format(a='{b}')}), 6)"
    )
    head = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT vec_id, embedding,
         {cos.format(a='embedding', b='qv')} AS rel
  FROM embeddings, q
  WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY rel DESC, vec_id LIMIT {MMR_CAND}
),
pairs AS (
  SELECT a.vec_id AS ai, b.vec_id AS bi,
         {cos.format(a='a.embedding', b='b.embedding')} AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS (
  SELECT vec_id, rel, 1::BIGINT AS pick, rel AS mmr
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
)"""
    parts = [head]
    for i in range(2, MMR_K + 1):
        sel = " UNION ALL ".join(f"SELECT vec_id FROM s{j}" for j in range(1, i))
        parts.append(
            f""",
s{i} AS (
  SELECT c.vec_id, c.rel, {i}::BIGINT AS pick,
         round({MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * max(p.sim), 6) AS mmr
  FROM cand c
  JOIN pairs p ON p.ai = c.vec_id AND p.bi IN ({sel})
  WHERE c.vec_id NOT IN ({sel})
  GROUP BY c.vec_id, c.rel
  ORDER BY mmr DESC, c.vec_id LIMIT 1
)"""
        )
    union = " UNION ALL ".join(
        f"SELECT vec_id, rel, pick, mmr FROM s{j}" for j in range(1, MMR_K + 1)
    )
    parts.append(f"\nSELECT pick, vec_id, rel, mmr FROM ({union})")
    return "".join(parts)


MMR_K = 5  # picks returned
MMR_CAND = 10  # relevance candidates entering the greedy stage
MMR_LAMBDA = 0.5  # relevance vs diversity trade-off


@query("knn_mmr", category="J.sim", oracle=_mmr_oracle())
def knn_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance — DIVERSIFIED top-k retrieval, the
    standard RAG re-rank step after any ANN ladder rung: from the
    top-10 cosine candidates, greedily pick 5 maximizing
    λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) (λ = 0.5), so near-duplicate
    passages can't crowd the context window. Candidate scoring and the
    pairwise sim matrix (the distributed parts) run in Spark; the
    greedy recursion then operates on ≤10 candidate rows and ≤90 sim
    rows, so it runs DRIVER-SIDE over two K-bounded collects — the
    sample_kcenter/Gonzalez precedent. Round 13 (optimization): the
    previous declarative unroll planned 4 selection rounds of joins/
    aggregations over ≤10-row frames — ~40 Exchanges and a hundred-odd
    scheduled tasks of pure orchestration overhead at ANY scale, since
    the frames never grow with the corpus (noop-sink full recompute
    4.0 s → see OPTIMIZATION_r13.md; plans/r13/knn_mmr_*.txt). At
    100 TB only candidate generation changes (flips to knn_lsh/
    knn_ivf); the greedy stage stays O(K·CAND) driver work.
    Determinism is the argmax recipe: rel, all pairwise sims AND every
    reachable mmr value pin to 6 dp IN SPARK (round 14 — the mmr for
    any chosen set is a function of one (candidate, chosen) pair, so
    all of them precompute engine-side and the driver only compares
    collected doubles; no driver-side rounding remains), and every
    argmax orders by (score DESC NULLS LAST, vec_id). Oracle: the same
    unrolling, one CTE per pick, generated by ``_mmr_oracle`` so both
    engines share the k/λ literals by construction."""
    e = Tables(spark, sf_dir).embeddings
    qv = _query_vector(spark, sf_dir)
    if qv is None:  # no query row → every oracle CTE empties
        return spark.createDataFrame(
            [], "pick bigint, vec_id bigint, rel double, mmr double"
        )
    rel = F.expr(f"round({cosine_sql('embedding', qv)}, 6)")
    cand = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "embedding", rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_CAND)
        .cache()  # feeds the pair scoring + the candidate fetch
    )
    a, b = cand.alias("a"), cand.alias("b")
    sim6 = F.expr(
        f"round({cosine_sql('a.embedding', 'b.embedding')}, 6)"
    )
    # round-14 hardening (VERDICT r13 #8): the candidate mmr for ANY
    # chosen set is round(λ·rel_c − (1−λ)·max_sim, 6) where max_sim is
    # always one of the pairwise sims — so EVERY value the greedy can
    # ever emit is precomputed here, IN SPARK, per (c, s) pair. The
    # driver then only compares and selects engine-computed doubles;
    # no driver-side rounding remains, which removes the JDK-dependent
    # repr ≡ Double.toString assumption a driver-side round needs.
    pairs = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ai"),
            F.col("b.vec_id").alias("bi"),
            sim6.alias("sim"),
            F.round(
                F.lit(MMR_LAMBDA) * F.col("a.rel")
                - F.lit(1 - MMR_LAMBDA) * sim6,
                6,
            ).alias("mmr_if"),
        )
    )
    # K-bounded driver fetch (≤ MMR_CAND and ≤ MMR_CAND² rows by
    # construction — lint-pinned in COLLECT_ALLOWLIST): the greedy
    # argmax recursion runs on these engine-computed 6-dp scores.
    cand_rows = [
        (r["vec_id"], r["rel"]) for r in cand.select("vec_id", "rel").collect()
    ]
    prows = pairs.collect()
    sim = {(r["ai"], r["bi"]): r["sim"] for r in prows}
    mmr_if = {(r["ai"], r["bi"]): r["mmr_if"] for r in prows}
    # (rel DESC NULLS LAST, vec_id) — the engine orderBy semantics; a
    # NULL rel (NULL embedding upstream) sorts last instead of raising
    # (ADVICE r13: the old engine-side form degraded gracefully)
    cand_rows.sort(
        key=lambda t: (1, 0.0, t[0]) if t[1] is None else (0, -t[1], t[0])
    )
    rel_of = dict(cand_rows)
    out: list[tuple[int, int, float | None, float | None]] = []
    if cand_rows:
        first = cand_rows[0]
        out.append((1, first[0], first[1], first[1]))
    for i in range(2, MMR_K + 1):
        chosen = {v for _, v, _, _ in out}
        best: tuple[tuple, int, float | None] | None = None
        for c, rc in cand_rows:
            if c in chosen:
                continue
            # SQL max() semantics: NULL sims are skipped; all-NULL (or
            # NULL rel) → NULL mmr, ordered last by the argmax below
            ms, s_best = None, None
            for s in chosen:
                v = sim.get((c, s))
                if v is not None and (ms is None or v > ms):
                    ms, s_best = v, s
            mmr = (
                mmr_if.get((c, s_best))
                if (s_best is not None and rc is not None)
                else None
            )
            # argmax by (mmr DESC NULLS LAST, vec_id ASC) — the
            # engine's orderBy
            key = (1, 0.0, c) if mmr is None else (0, -mmr, c)
            if best is None or key < best[0]:
                best = (key, c, mmr)
        if best is None:
            break
        out.append((i, best[1], rel_of[best[1]], best[2]))
    return spark.createDataFrame(
        out, "pick bigint, vec_id bigint, rel double, mmr double"
    )


# --- hybrid retrieval: reciprocal-rank fusion of lexical + semantic lists

RRF_C = 60  # the standard RRF damping constant (Cormack et al. 2009)
RRF_LIST_K = 20  # depth of each input ranking
RRF_TOP = 10  # fused results returned


def _rrf_oracle() -> str:
    """Splices the REGISTERED text_bm25 oracle verbatim as the lexical
    CTE (the knn_recall / _md5_int_sql shared-definition discipline), so
    the fusion's notion of "BM25 ranking" can never drift from the
    operator it fuses; the semantic CTE is the knn_bruteforce cosine
    spelling against the same query vector.

    The inner ``text`` import is load-bearing: operators/__init__ imports
    this module BEFORE text.py (alphabetical), so the splice triggers
    text_bm25's registration itself rather than assuming import order
    (text.py has no reverse dependency — no cycle)."""
    from . import text as _text  # noqa: F401

    from ..registry import REGISTRY

    lex = REGISTRY["text_bm25"].oracle
    dot = DUCK_DOT.format(a="embedding", b="qv")
    nrm = DUCK_NORM.format(a="embedding")
    qnrm = DUCK_NORM.format(a="qv")
    return f"""
WITH lex_base AS ({lex}),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
  FROM lex_base
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
sem_base AS (
  SELECT vec_id AS doc_id,
         round({dot} / ({nrm} * {qnrm}), 6) AS cos_sim
  FROM embeddings, q
  WHERE vec_id <> {QUERY_VEC_ID}
),
sem AS (
  SELECT doc_id, sem_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS sem_rank
    FROM sem_base
  ) WHERE sem_rank <= {RRF_LIST_K}
),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         coalesce(l.lex_rank, 0)::BIGINT AS lex_rank,
         coalesce(s.sem_rank, 0)::BIGINT AS sem_rank,
         round(coalesce(1.0::DOUBLE / ({RRF_C} + l.lex_rank)::DOUBLE, 0.0)
               + coalesce(1.0::DOUBLE / ({RRF_C} + s.sem_rank)::DOUBLE, 0.0),
               6) AS rrf_score
  FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {RRF_TOP}
"""


@query("rank_rrf", category="J.sim", oracle=_rrf_oracle())
def rank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Buettcher 2009): fuse the BM25 top-20 for the query {hash, join,
    scan} with the embedding-cosine top-20 for the aligned query vector
    (doc_id ≡ vec_id where the fixture ranges overlap) by
    RRF(d) = Σ_lists 1/(60 + rank_list(d)), the score that needs no
    cross-list calibration — which is exactly why hybrid search engines
    use it over raw-score mixing. A doc missing from a list contributes
    0 (rank reported as 0 = "miss"; ranks stay BIGINT-not-NULL so both
    engines fetch int64, the dtype-drift rule in tests/parity.py).

    Execution shape: the lexical list IS the registered text_bm25 plan
    (20 rows — the rank window over it is a constant-size reduce); the
    semantic list is a corpus scan + row_number ≤ 20, which Spark's
    InferWindowGroupLimit rewrites into a distributed group-limit (the
    fenced sort_global pattern, tests/test_plans.py) — no single-
    partition sort of the corpus. The fusion join is 20×20 rows. At
    100 TB the two list builders are the scale surfaces (BM25 posting
    join, ANN index); the fusion itself stays constant-size. Both
    rankings order on 6-dp-ROUNDED scores with id tiebreaks before
    ranks are assigned, so every rank — hence the whole fusion — is
    deterministic (the argmax-determinism recipe)."""
    from .text import text_bm25

    lex_base = text_bm25(spark, sf_dir)
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex = lex_base.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )

    e = Tables(spark, sf_dir).embeddings
    qv = _query_vector(spark, sf_dir)
    if qv is None:
        # no query vector → the SEMANTIC list alone is empty (oracle's
        # q CTE empties sem_base); the lexical list still fuses, so the
        # guard empties only this leg, not the whole operator
        sem = spark.createDataFrame([], "doc_id bigint, sem_rank bigint")
    else:
        sim = F.expr(cosine_sql("embedding", qv, unroll=True))
        ws = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
        sem = (
            e.filter(F.col("vec_id") != QUERY_VEC_ID)
            .select(
                F.col("vec_id").alias("doc_id"),
                F.round(sim, 6).alias("cos_sim"),
            )
            .select(
                "doc_id",
                F.row_number().over(ws).cast("long").alias("sem_rank"),
            )
            .where(F.col("sem_rank") <= RRF_LIST_K)
        )

    fused = lex.join(sem, "doc_id", "full")
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(RRF_C) + F.col(c)).cast("double"), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            F.coalesce(F.col("lex_rank"), F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce(F.col("sem_rank"), F.lit(0)).cast("long").alias("sem_rank"),
            F.round(term("lex_rank") + term("sem_rank"), 6).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(RRF_TOP)
    )


# --- graded ranking-quality audit of the hybrid fusion

NDCG_K = 10  # audit depth (= RRF_TOP)


def _ndcg_oracle() -> str:
    """Splices BOTH audited pipelines' registered oracles verbatim
    (rank_rrf = the ranking under audit, knn_bruteforce = the graded
    ground truth) — the knn_recall composition rule, so the audit can
    never measure a stale variant of either."""
    from ..registry import REGISTRY

    rrf = REGISTRY["rank_rrf"].oracle
    exact = REGISTRY["knn_bruteforce"].oracle
    return f"""
WITH rrf AS ({rrf}),
exact AS ({exact}),
er AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS xr
  FROM exact
),
au AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS pos
  FROM rrf
),
j AS (
  SELECT au.pos, coalesce({NDCG_K + 1} - er.xr, 0)::BIGINT AS rel
  FROM au LEFT JOIN er ON au.doc_id = er.vec_id
),
d AS (
  SELECT list_sum(list(rel::DOUBLE / log2((pos + 1)::DOUBLE) ORDER BY pos))
           AS dcg,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS n_overlap
  FROM j
),
i AS (
  SELECT list_sum(list(({NDCG_K + 1} - i)::DOUBLE / log2((i + 1)::DOUBLE)
                       ORDER BY i)) AS idcg
  FROM (SELECT unnest(generate_series(1, {NDCG_K})) AS i)
)
SELECT round(d.dcg, 6) AS dcg, round(i.idcg, 6) AS idcg,
       round(d.dcg / i.idcg, 6) AS ndcg, d.n_overlap
FROM d, i
"""


@query("rank_ndcg", category="J.sim", oracle=_ndcg_oracle())
def rank_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the hybrid RRF fusion against graded semantic ground
    truth — the second leg of the retrieval acceptance suite
    (knn_recall checks the ANN index's SET overlap; this checks the
    fused RANKING's order quality). Ground truth grades the exact
    cosine top-10 as rel = 11-rank (10..1, 0 elsewhere); the audited
    list is rank_rrf's top-10; DCG = Σ rel/log2(pos+1) folds in
    POSITION order on both engines (fsum over sort_array ≡ list_sum
    ORDER BY pos), IDCG folds the ideal grades the same way, and all
    three outputs round at 6 dp — exact-oracle despite the log-space
    math. Composes the two REGISTERED operators for both plan and
    oracle (knn_recall's rule). Scale shape: the expensive parts ARE
    the audited pipelines; the audit adds two 10-row rank windows, a
    10-row join, and constant-size folds."""
    from ..functions.vector import fsum

    rrf = rank_rrf(spark, sf_dir)
    exact = knn_bruteforce(spark, sf_dir)
    er = exact.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id")))
        .alias("xr"),
    )
    au = rrf.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id")))
        .alias("pos"),
    )
    j = au.join(er, au.doc_id == er.vec_id, "left").select(
        "pos",
        F.coalesce(F.lit(NDCG_K + 1) - F.col("xr"), F.lit(0))
        .cast("long")
        .alias("rel"),
    )

    def _fold(pos_col: str, term: F.Column) -> F.Column:
        return fsum(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col(pos_col), term.alias("t")))
                ),
                lambda s: s.getField("t"),
            )
        )

    dterm = F.col("rel").cast("double") / F.log2(
        (F.col("pos") + 1).cast("double")
    )
    # nj guards the empty-audit case (0-row fixtures): Spark's fold over
    # an empty collect_list yields its 0.0 seed while DuckDB's
    # list(… ORDER BY) over zero rows is NULL — mirror duck's NULL
    d = j.agg(
        _fold("pos", dterm).alias("dcg_raw"),
        F.count(F.lit(1)).alias("nj"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_overlap"),
    ).select(
        F.when(F.col("nj") > 0, F.col("dcg_raw")).alias("dcg"),
        "n_overlap",
    )
    ir = spark.range(1, NDCG_K + 1).select(F.col("id").alias("i"))
    iterm = (F.lit(NDCG_K + 1) - F.col("i")).cast("double") / F.log2(
        (F.col("i") + 1).cast("double")
    )
    i = ir.agg(_fold("i", iterm).alias("idcg"))
    return d.crossJoin(F.broadcast(i)).select(
        F.round(F.col("dcg"), 6).alias("dcg"),
        F.round(F.col("idcg"), 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        "n_overlap",
    )


# --- filtered ANN: predicate-aware IVF search

FILTER_LABELS = (2, 5)  # the metadata predicate (≈20% selectivity)
FILTER_NPROBE = 8  # 2× the unfiltered NPROBE — see docstring

_FILTER_ORACLE = f"""
WITH {_IVF_CELLS_CTE},
q AS (SELECT embedding AS qe, vi AS qi FROM e WHERE vec_id = {QUERY_VEC_ID}),
probes AS (
  SELECT c.cid FROM q CROSS JOIN c2 c
  ORDER BY {_IVF_DIST_SQL.format(a="q.qi", b="c.cvec")}, c.cid
  LIMIT {FILTER_NPROBE}
),
asg AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_IVF_DIST_SQL.format(a="e.vi", b="c.cvec")} AS d
  FROM e CROSS JOIN c2 c
  WHERE e.vec_id <> {QUERY_VEC_ID}
),
cell AS (
  SELECT vec_id, embedding, cid AS cluster FROM asg
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
),
scored AS (
  SELECT cell.vec_id, lb.label, cell.cluster,
         round({DUCK_DOT.format(a="cell.embedding", b="q.qe")}
               / ({DUCK_NORM.format(a="cell.embedding")}
                  * {DUCK_NORM.format(a="q.qe")}), 6) AS cos_sim
  FROM cell
  JOIN embeddings lb ON lb.vec_id = cell.vec_id
  CROSS JOIN q
  WHERE cell.cluster IN (SELECT cid FROM probes)
    AND lb.label IN {FILTER_LABELS}
)
SELECT vec_id, label, cluster, cos_sim FROM scored
QUALIFY row_number() OVER (ORDER BY cos_sim DESC, vec_id) <= 10
"""


@query(
    "knn_filter",
    category="J.sim",
    tags=("side_effects",),
    oracle=_FILTER_ORACLE,
)
def knn_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — ANN under a metadata predicate
    (label IN (2, 5)), the defining workload axis of modern
    vector stores: a plain IVF probe loses recall when a filter thins
    each probed cell, so the index must either PRE-FILTER during the
    probe (this plan) or over-fetch and post-filter. This operator
    takes the principled path: it probes the MATERIALIZED
    cell-partitioned index (_ivf_index, written once per session), so
    the cluster membership is a partition-pruning predicate — the 8
    non-probed cell directories are never opened — and the label
    predicate pushes to parquet row groups (PushedFilters; fenced at
    tests/test_plans.py). nprobe is widened 4 → 8 following the
    standard selectivity rule (probe ≈ nprobe/selectivity cells to
    recover the unfiltered candidate mass; label ∈ {2, 5} keeps ≈ 20%
    of vectors).

    Reuses the EXACT shared quantizer: the trained centroids come from
    _ivf_centroids (identical cache) and the oracle replays them via
    the same _IVF_CELLS_CTE spelling as knn_ivf/knn_semdedup — one
    quantizer definition across the whole IVF family. This IS the
    100 TB shape, not a simulation of it: assignment paid at write
    time, probe = partition-pruned scan + row-group predicate, top-10
    = TakeOrderedAndProject."""
    cents = _ivf_centroids(spark, sf_dir)
    qv = _query_vector(spark, sf_dir)
    if cents is None or qv is None:  # empty corpus / missing query row
        return spark.createDataFrame(
            [], "vec_id bigint, label int, cluster int, cos_sim double"
        )
    probes = _probe_cells(cents, qv, nprobe=FILTER_NPROBE)
    out = _ivf_index(spark, sf_dir, cents)  # written once per session
    return (
        spark.read.schema(_IVF_INDEX_SCHEMA)
        .parquet(out)
        .filter(
            (F.col("vec_id") != QUERY_VEC_ID)
            & F.col("cluster").isin(probes)
            & F.col("label").isin(list(FILTER_LABELS))
        )
        .select(
            "vec_id",
            "label",
            F.col("cluster").cast("int").alias("cluster"),
            F.expr(
                f"round({cosine_sql('embedding', qv, unroll=True)}, 6)"
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )
