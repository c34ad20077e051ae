"""Generic MapReduce-style job builders over arbitrary DataFrames.

The reference's user surface is "submit a job: a map function and a reduce
function over an input path" [MR04 §2]. These builders are that surface
re-expressed declaratively: each takes any DataFrame (not just the fixture
tables) and returns the job's result plan. Each is also the one
implementation of the registry key(s) it names: the key binds the fixture
table, its column names and constants, and projects the output, so a user
job and the registered job run the same plan.

Every builder is a pure plan-constructor — no execution, no collect —
so Catalyst optimizes the composed pipeline as one query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .functions import vector
from .functions.tokens import shingles, tokens


def word_count(df: DataFrame, text_col: str) -> DataFrame:
    """The canonical MR job [MR04 §2.1]: (word, cnt) per distinct token.
    Bound by ``text_wordcount``."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def grep(df: DataFrame, text_col: str, pattern: str) -> DataFrame:
    """Distributed grep [MR04 §2.3]: the rows whose ``text_col`` matches
    the regex. Bound by ``text_grep`` and ``filter_grep``."""
    return df.filter(F.col(text_col).rlike(pattern))


def inverted_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(word, postings): each token's sorted distinct ``id_col`` values
    [MR04 §2.3]. Bound by ``text_inverted_index``."""
    return (
        df.select(id_col, F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.sort_array(F.collect_set(id_col)).alias("postings"))
    )


def top_k(df: DataFrame, k: int, *order: Column) -> DataFrame:
    """Global top-k without a full sort (TakeOrderedAndProject): each
    partition keeps k rows, the driver merges. Bound by ``topk_global``."""
    return df.orderBy(*order).limit(k)


def histogram(df: DataFrame, value_col: str, bucket_width: float) -> DataFrame:
    """Value histogram: floor-bucketing + count (bucket as the key).
    Bound by ``agg_histogram``."""
    bucket = F.floor(F.col(value_col) / bucket_width).cast("long").alias("bucket")
    return df.groupBy(bucket).agg(F.count(F.lit(1)).alias("n"))


# --- curation-pipeline builders (the north-star surface, generic form) ---


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Exact dedup with a deterministic survivor: per ``key_cols`` group,
    the row of least ``order_col`` (unique), plus ``n_copies``, the
    group's size. Bound by ``dedup_exact``.

    The survivor is the min of a struct led by ``order_col`` inside an
    ordinary aggregate, so the map side partial-aggregates and the
    shuffle moves one row per distinct key per partition, never every
    row (a window survivor would). ``dropDuplicates`` keeps an arbitrary
    row. NULL keys form one group."""
    rest = [c for c in df.columns if c != order_col and c not in key_cols]
    return df.groupBy(*key_cols).agg(
        F.min(F.struct(order_col, *rest)).alias("s"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select(
        *(c if c in key_cols else F.col(f"s.{c}").alias(c) for c in df.columns),
        "n_copies",
    )


def near_dedup_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by exact k-word-shingle Jaccard ≥ threshold:
    (id_a < id_b, jaccard), unrounded. Candidates come from the shingle
    inverted-index self-join (bounded by shared shingles, never a
    crossJoin); swap the block for minhash bands past ~10⁷ docs. Bound
    by ``dedup_ngram_jaccard``, ``dedup_components`` (the pair graph)
    and ``dedup_levenshtein`` (the candidate block, threshold 0.3).

    NULL texts are dropped first: a NULL text has no shingles. Without
    the filter ``concat_ws`` turns a NULL text into the shingle '' and
    every two NULL-text rows pair at Jaccard 1.0, while SQL's NULL
    shingle joins nothing."""
    d = df.where(F.col(text_col).isNotNull())
    sh = d.select(id_col, F.explode(shingles(text_col, k)).alias("shingle"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


def sessionize(
    df: DataFrame, key_col: str, ts_col: str, tiebreak_col: str, gap_s: int
) -> DataFrame:
    """Gap-based sessionization: adds ``session_id``, per ``key_col`` the
    running count of rows that start a session — the first row, or one
    more than ``gap_s`` seconds after the previous row. Rows are ordered
    by ``ts_col`` (a timestamp) then the unique ``tiebreak_col``, so ids
    are deterministic (unlike monotonically_increasing_id). Bound by
    ``stream_session``; the streaming twin is ``F.session_window``."""
    order = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    gap_us = F.unix_micros(ts_col) - F.unix_micros(F.lag(ts_col).over(order))
    starts = df.withColumn(
        "__new_session",
        F.when(gap_us.isNull() | (gap_us > gap_s * 1_000_000), 1).otherwise(0),
    )
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return starts.withColumn(
        "session_id", F.sum("__new_session").over(run)
    ).drop("__new_session")


def knn_topk(
    df: DataFrame, id_col: str, vec_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine against one query vector: (``id_col``,
    cos_sim rounded to 6 dp), ordered by cos_sim then id. The vector
    ships as a literal (broadcast), the scan is shuffle-free, and the
    top-k is TakeOrderedAndProject — linear in corpus size at any scale.
    ``vec_col`` is column SQL text; ``query`` must be finite. Bound by
    ``knn_bruteforce``."""
    sim = F.expr(vector.cosine_sql(vec_col, query))
    return (
        df.select(id_col, F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def forward_fill(
    df: DataFrame, key_col: str, order_col: str, value_cols: list[str]
) -> DataFrame:
    """Per-key forward fill: each null carries the last non-null value
    forward in ``order_col`` order (one window, no self-join). Bound by
    ``ts_fill_forward`` as the fill over its hour grid."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in value_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out
