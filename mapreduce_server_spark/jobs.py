"""Generic MapReduce-style job builders over arbitrary DataFrames.

The reference's user surface is "submit a job: a map function and a reduce
function over an input path" [MR04 §2]. These builders are that surface
re-expressed declaratively: each takes any DataFrame (not just the fixture
tables) and returns the job's result plan. The registry operators are
fixture-bound instantiations; these are what a migrating user calls on
their own data.

Every builder is a pure plan-constructor — no execution, no collect —
so Catalyst optimizes the composed pipeline as one query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_count(df: DataFrame, text_col: str, delimiter: str = " ") -> DataFrame:
    """The canonical MR job [MR04 §2.1]: (word, count) per distinct token."""
    return (
        df.select(F.explode(F.split(F.col(text_col), delimiter)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def grep(df: DataFrame, pattern: str, *output_cols: str) -> DataFrame:
    """Distributed grep [MR04 §2.3]: rows whose first string column (or
    explicit output columns' source) matches the regex."""
    text_col = output_cols[0] if output_cols else df.columns[0]
    out = df.filter(F.col(text_col).rlike(pattern))
    return out.select(*output_cols) if output_cols else out


def inverted_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """word → sorted posting list [MR04 §2.3]."""
    return (
        df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.sort_array(F.collect_set(id_col)).alias("postings"))
    )


def total_sort(df: DataFrame, *order: Column) -> DataFrame:
    """TeraSort [MR04 §5.3]: range-partitioned total order."""
    return df.orderBy(*order)


def top_k(df: DataFrame, k: int, *order: Column) -> DataFrame:
    """Global top-k without a full sort (TakeOrderedAndProject)."""
    return df.orderBy(*order).limit(k)


def key_value_aggregate(
    df: DataFrame,
    key_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """The general MR job shape: shuffle by key, reduce with combiners —
    ``map`` is whatever projection produced ``df``, ``reduce`` is ``aggs``."""
    return df.groupBy(*key_cols).agg(*aggs)


def histogram(df: DataFrame, value_col: str, bucket_width: float) -> DataFrame:
    """Value histogram: floor-bucketing + count (bucket as the key)."""
    bucket = F.floor(F.col(value_col) / bucket_width).cast("long").alias("bucket")
    return df.groupBy(bucket).agg(F.count(F.lit(1)).alias("n"))


# --- curation-pipeline builders (the north-star surface, generic form) ---


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Exact dedup with a deterministic survivor: min ``order_col`` row per
    duplicate group (never dropDuplicates' arbitrary first-seen)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def near_dedup_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by exact k-word-shingle Jaccard ≥ threshold.
    Candidates come from the shingle inverted-index self-join (bounded by
    shared shingles, never a crossJoin); swap the block for minhash bands
    past ~10⁷ docs. Returns (id_a < id_b, jaccard)."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    shingles = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )
    sh = df.select(F.col(id_col).alias("id"), F.explode(shingles).alias("shingle"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


def sessionize(
    df: DataFrame, key_col: str, ts_col: str, gap: str = "30 minutes"
) -> DataFrame:
    """Gap-based sessionization: adds a deterministic ``session_id``
    (running count of gap-exceeding starts per key). ``gap`` is any Spark
    interval string. The streaming twin is ``F.session_window``."""
    from pyspark.sql import Window

    prev = F.lag(ts_col).over(Window.partitionBy(key_col).orderBy(ts_col))
    is_new = F.when(
        prev.isNull() | (F.col(ts_col) - prev > F.expr(f"INTERVAL {gap}")), 1
    ).otherwise(0)
    run = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("session_id", F.sum(is_new).over(run))


def knn_topk(
    df: DataFrame, id_col: str, vec_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine against one query vector: the vector ships as
    a literal (broadcast), the scan is shuffle-free, and the top-k is
    TakeOrderedAndProject — linear in corpus size at any scale.
    ``vec_col`` is column SQL text; ``query`` must be finite."""
    from .functions.vector import cosine_sql

    sim = F.expr(cosine_sql(vec_col, query))
    return (
        df.select(F.col(id_col).alias("id"), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("id"))
        .limit(k)
    )


def forward_fill(
    df: DataFrame, key_col: str, order_col: str, value_cols: list[str]
) -> DataFrame:
    """Per-key forward fill: each null carries the last non-null value
    forward in ``order_col`` order (one window, no self-join)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in value_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out
