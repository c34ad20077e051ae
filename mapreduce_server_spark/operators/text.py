"""Text analysis operators (SURVEY.md §2 cat. J, north-star text surface).

text_wordcount is the identity card of the model class — THE canonical
MapReduce program [MR04 §2.1]: map emits (word,1), combiner partial-sums,
reduce totals. The Spark plan (explode → groupBy → count) is the same
dataflow with the combiner supplied automatically by HashAggregateExec.

Tokenization contract: the fixture corpus is strictly single-space
separated (FIXTURES.md), and the oracle must split identically, so every
operator tokenizes with ``functions.tokens`` — a literal single-space
split, never ``\\s+`` — to avoid Spark↔DuckDB regex-class drift.

Scale notes: explode multiplies rows ~100× before the shuffle, but the
partial aggregate collapses each partition back to |vocab| rows, so the
wordcount shuffle is O(partitions × vocab) regardless of corpus size.
TF-IDF is two aggregations + one broadcast-joined dimension (the per-word
document frequencies — |vocab| rows), not an N×N anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import jobs
from ..functions.tokens import tokens
from ..registry import query
from ..sources.loader import Tables


@query(
    "text_wordcount",
    category="J.text",
    tags=("headline",),
    oracle="""
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
""",
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount [MR04 §2.1]: ``jobs.word_count`` over the documents'
    text (split → explode → count per word)."""
    return jobs.word_count(Tables(spark, sf_dir).documents, "text")


@query(
    "text_grep",
    category="J.text",
    oracle="""
SELECT doc_id, lang FROM documents
WHERE regexp_matches(text, '(merge|sort) (join|window)')
""",
)
def text_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep over documents [MR04 §2.3]: ``jobs.grep`` on the
    text, projected to (doc_id, lang) (the same job as filter_grep;
    registered per the reference's own example-pair)."""
    d = Tables(spark, sf_dir).documents
    return jobs.grep(d, "text", "(merge|sort) (join|window)").select("doc_id", "lang")


@query(
    "text_inverted_index",
    category="J.text",
    oracle="""
SELECT word,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS doc_ids,
       count(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
""",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index [MR04 §2.3]: ``jobs.inverted_index`` over the
    documents, each sorted posting list rendered as comma-joined doc_ids
    with its length as n_docs (the list is distinct, so no second
    distinct aggregate)."""
    ii = jobs.inverted_index(Tables(spark, sf_dir).documents, "doc_id", "text")
    return ii.select(
        "word",
        F.array_join(F.transform("postings", lambda x: x.cast("string")), ",").alias("doc_ids"),
        F.size("postings").cast("long").alias("n_docs"),
    )


@query(
    "text_tfidf",
    category="J.text",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents),
     tf  AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
     df  AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
     n   AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.word,
       tf.tf AS tf,
       round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 6) AS tfidf
FROM tf JOIN df USING (word) CROSS JOIN n
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: tf(w,d) · ln(N/df(w)) — two aggregations plus a broadcast
    join of the |vocab|-row document-frequency dimension. Natural log, no
    smoothing (pinned identically in the oracle); rounded to 6 dp for
    libm-drift immunity."""
    d = Tables(spark, sf_dir).documents
    tok = d.select("doc_id", F.explode(tokens()).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # driver-side scalar; one metadata-cheap job
    return (
        tf.join(F.broadcast(df), "word")
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


@query(
    "text_lang_stats",
    category="J.text",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       sum(n_chars)::DOUBLE / count(*) AS avg_chars
FROM documents
GROUP BY lang
""",
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (metadata group-by)."""
    d = Tables(spark, sf_dir).documents
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (F.sum("n_chars") / F.count(F.lit(1))).alias("avg_chars"),
    )


@query(
    "text_quality",
    category="J.text",
    oracle="""
SELECT
  doc_id,
  len(string_split(text, ' ')) AS n_tokens,
  n_chars,
  n_chars::DOUBLE / len(string_split(text, ' ')) AS chars_per_token,
  len(list_filter(string_split(text, ' '),
                  w -> w IN ('spark', 'batch', 'stream')))::DOUBLE
      / len(string_split(text, ' ')) AS kw_ratio,
  (len(string_split(text, ' ')) BETWEEN 8 AND 100) AS len_ok
FROM documents
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (north star): token count, chars/token,
    keyword-stopword ratio, length gate — pure integer/ratio arithmetic so
    both engines agree exactly."""
    d = Tables(spark, sf_dir).documents
    toks = tokens()
    n_tok = F.size(toks)
    kw = F.size(F.filter(toks, lambda w: w.isin("spark", "batch", "stream")))
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        "n_chars",
        (F.col("n_chars") / n_tok).alias("chars_per_token"),
        (kw.cast("double") / n_tok).alias("kw_ratio"),
        n_tok.between(8, 100).alias("len_ok"),
    )


@query(
    "text_token_count",
    category="J.text",
    oracle="""
SELECT
  doc_id,
  len(string_split(text, ' ')) AS ws_tokens,
  len(regexp_extract_all(text, '([a-z]+|[0-9]+|[^a-z0-9 ])')) AS re_tokens
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (north star): whitespace tokens and a
    BPE-ish regex tokenizer (letter runs / digit runs / other)."""
    d = Tables(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("([a-z]+|[0-9]+|[^a-z0-9 ])")))
        .cast("long")
        .alias("re_tokens"),
    )


@query(
    "text_fingerprint",
    category="J.text",
    oracle="""
SELECT doc_id,
       md5(lower(text)) AS fp,
       substring(md5(lower(text)), 1, 8) AS fp_prefix
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (north star doc fingerprinting): normalized
    MD5 — the exact-dedup key at scale (16 bytes shuffled instead of the
    full text; see operators/dedup.py)."""
    d = Tables(spark, sf_dir).documents
    fp = F.md5(F.lower("text").cast("binary"))
    return d.select("doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_prefix"))


@query(
    "text_langid",
    category="J.text",
    oracle="""
WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
tok_train AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM train),
counts AS (SELECT lang, w, count(*) AS c FROM tok_train GROUP BY 1, 2),
totals AS (SELECT lang, sum(c) AS tot FROM counts GROUP BY 1),
vocab AS (SELECT count(DISTINCT w) AS v FROM tok_train),
grid AS (
  SELECT t.lang, wv.w,
         ln((coalesce(c.c, 0) + 1.0) / (t.tot + v.v)) AS lp
  FROM totals t
  CROSS JOIN (SELECT DISTINCT w FROM tok_train) wv
  CROSS JOIN vocab v
  LEFT JOIN counts c ON c.lang = t.lang AND c.w = wv.w
),
test_tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents WHERE doc_id % 2 = 1),
scores AS (SELECT doc_id, g.lang, sum(g.lp) AS s
           FROM test_tok tt JOIN grid g ON tt.w = g.w
           GROUP BY 1, 2)
SELECT doc_id, lang AS pred_lang, round(s, 4) AS score
FROM (SELECT doc_id, lang, s,
             row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang) AS rn
      FROM scores)
WHERE rn = 1
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID as a distributed naive-Bayes word-profile classifier
    (north star): train add-1-smoothed log-likelihood profiles on the
    even-doc_id split (groupBy → |langs|×|vocab| grid), broadcast the
    grid, score held-out docs, argmax with deterministic tiebreak.

    Honesty note: the fixture's languages share one uniform 31-word
    vocabulary (measured — per-lang word frequencies are noise), so
    accuracy is chance by construction; the operator's value is the
    distributed shape (train/broadcast/score/argmax), which transfers
    unchanged to real corpora. Scores are double log-sums — last-ulp
    engine drift is absorbed by round-4 output and cannot flip the argmax
    unless two languages tie within an ulp.
    """
    d = Tables(spark, sf_dir).documents
    train = d.filter(F.col("doc_id") % 2 == 0)
    tok_train = train.select("lang", F.explode(tokens()).alias("w"))
    # every post-count relation derives from the cached (lang, w) cells;
    # deriving vocab from tok_train instead would rescan+re-explode the
    # corpus per reference (STATUS duplicated-subtree trap)
    counts = (
        tok_train.groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    totals = counts.groupBy("lang").agg(F.sum("c").alias("tot"))
    vocab = counts.select("w").distinct()
    vocab_n = vocab.count()
    grid = (
        totals.crossJoin(vocab)
        .join(counts, ["lang", "w"], "left")
        .select(
            "lang",
            "w",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("tot") + F.lit(vocab_n))
            ).alias("lp"),
        )
    )
    test_tok = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.explode(tokens()).alias("w")
    )
    scores = (
        test_tok.join(F.broadcast(grid), "w")
        .groupBy("doc_id", "lang")
        .agg(F.sum("lp").alias("s"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            F.round("s", 4).alias("score"),
        )
    )


@query(
    "text_bigrams",
    category="J.text",
    oracle="""
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents)
SELECT bigram, count(*) AS cnt
FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks)
GROUP BY bigram
""",
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram frequency (n-gram statistics over the corpus): windowed
    token pairs → explode → count; same shuffle shape as wordcount
    (partial agg collapses to |vocab|² keys max)."""
    d = Tables(spark, sf_dir).documents
    toks = tokens()
    # 1-token docs: sequence(1, 0) infers step -1 → [1, 0] and element_at(0)
    # raises under ANSI; filter them out first (DuckDB's generate_series(1, 0)
    # is empty, so dropping them matches the oracle).
    idx = F.sequence(F.lit(1), F.size(F.col("t")) - 1)
    bigrams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)
        ),
    )
    return (
        d.select(toks.alias("t"))
        .where(F.size("t") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "graph_reverse_links",
    category="J.text",
    oracle="""
SELECT word AS target,
       array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
       count(DISTINCT source) AS n_sources
FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
""",
)
def graph_reverse_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse web-link graph [MR04 §2.3]: (source, target) pairs inverted
    to target → sorted source list. Here sources are the documents'
    origin feeds and targets their referenced tokens — the same
    shuffle-on-target + collect shape as for URLs."""
    d = Tables(spark, sf_dir).documents
    return (
        d.select("source", F.explode(tokens()).alias("target"))
        .groupBy("target")
        .agg(
            F.array_join(F.sort_array(F.collect_set("source")), ",").alias(
                "sources"
            ),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@query(
    "text_term_vector",
    category="J.text",
    oracle="""
SELECT source, word, tf
FROM (SELECT source, word, tf,
             row_number() OVER (PARTITION BY source
                                ORDER BY tf DESC, word) AS rn
      FROM (SELECT source, word, count(*) AS tf
            FROM (SELECT source, unnest(string_split(text, ' ')) AS word
                  FROM documents)
            GROUP BY source, word))
WHERE rn <= 5
""",
)
def text_term_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term vector per host [MR04 §2.3]: the top-5 most frequent terms
    per source feed (groupBy + per-group window top-k)."""
    d = Tables(spark, sf_dir).documents
    tf = (
        d.select("source", F.explode(tokens()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("word"))
    return (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "word", "tf")
    )


@query(
    "text_bigram_lm",
    category="J.text",
    oracle="""
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> [t[i], t[i + 1]])) AS p
  FROM toks WHERE len(t) >= 2
),
bg AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
heads AS (SELECT w1, sum(c12) AS c1 FROM bg GROUP BY w1),
vocab AS (
  SELECT count(DISTINCT word) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
)
SELECT w1, w2, c12,
       (c12 + 1)::DOUBLE / (c1 + v) AS p_smooth
FROM bg JOIN heads USING (w1) CROSS JOIN vocab
""",
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model with add-1 (Laplace) smoothing:
    P(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+|V|) — the count-based LM
    estimation step of a text pipeline, all in three aggregates:
    bigram counts (the wordcount shuffle over pair keys), head
    marginals (sum over the already-reduced bigram table — never a
    second pass over the corpus), and |V| as a broadcast scalar.

    Float discipline: the probability is ONE correctly-rounded double
    division of exact integers — bit-identical across engines and
    partitionings, no rounding step needed. Scale: output is the
    observed-bigram table (≤ |V|·avg-successors rows); the marginal
    join keys on w1, the same partitioning the bigram groupBy already
    produced, so AQE plans it shuffle-free on the reduced side."""
    d = Tables(spark, sf_dir).documents
    toks = tokens()
    idx = F.sequence(F.lit(1), F.size(F.col("t")) - 1)
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col("t"), i).alias("w1"),
            F.element_at(F.col("t"), i + 1).alias("w2"),
        ),
    )
    bg = (
        d.select(toks.alias("t"))
        .where(F.size("t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    heads = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        d.select(F.explode(toks).alias("word"))
        .agg(F.countDistinct("word").alias("v"))
    )
    return (
        bg.join(heads, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "c12",
            ((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v"))).alias(
                "p_smooth"
            ),
        )
    )


@query(
    "text_keywords",
    category="J.text",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents),
     tf  AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
     df  AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
     n   AS (SELECT count(*) AS n_docs FROM documents),
     scored AS (
       SELECT tf.doc_id, tf.word,
              round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 6) AS tfidf
       FROM tf JOIN df USING (word) CROSS JOIN n
     )
SELECT doc_id, word, tfidf, rn
FROM (SELECT doc_id, word, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, word) AS rn
      FROM scored)
WHERE rn <= 3
""",
)
def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 TF-IDF terms per document — the
    compact per-doc topical signature a curation pipeline clusters or
    dedups on when full embeddings are too expensive. Composes the
    text_tfidf scoring with the win_rownum_topk pattern (row_number,
    never a per-doc sort-limit self-join).

    Parity: ranks order by the ROUNDED 6-dp score (the same value that
    crosses the gate), with the word as the unique tie-break, so a
    last-ulp ln() divergence can't reorder engines. Scale: the df dim
    (|vocab| rows) is broadcast; both aggs and the window key on
    doc_id/word — partial-agg before each of the three shuffles; the
    window state is 3 rows per doc."""
    d = Tables(spark, sf_dir).documents
    tok = d.select("doc_id", F.explode(tokens()).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # driver-side scalar; one metadata-cheap job
    scored = tf.join(F.broadcast(df), "word").select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tfidf", "rn")
    )


@query(
    "text_collocations",
    category="J.text",
    oracle="""
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
uni AS (SELECT unnest(t) AS w FROM toks),
uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
nt AS (SELECT count(*) AS n FROM uni),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> [t[i], t[i + 1]])) AS p
  FROM toks WHERE len(t) >= 2
),
bc AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
nb AS (SELECT count(*) AS n FROM pairs)
SELECT w1, w2, c_ab,
       round(ln((c_ab::DOUBLE / nb.n)
                / ((a.c::DOUBLE / nt.n) * (b.c::DOUBLE / nt.n))), 6) AS pmi
FROM bc JOIN uc a ON a.w = w1 JOIN uc b ON b.w = w2
CROSS JOIN nt CROSS JOIN nb
WHERE c_ab >= 5
""",
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent word
    pairs, min support 5 — the association-strength statistic (how much
    more often do these words co-occur than chance?) that separates real
    phrases from merely-frequent pairs; the phrase-detection pass of a
    corpus pipeline (word2vec-style phrase joining, vocab construction).
    pmi = ln(p(ab) / (p(a)·p(b))), unigram probs over all tokens, bigram
    prob over all adjacent pairs.

    Plan: the bigram count is the wordcount shuffle over pair keys; the
    unigram vocab joins back twice as a BROADCAST dim (|vocab| rows);
    the two corpus totals are 1-row scalars. Parity: identical division
    and ln grouping both engines, 6-dp rounded (text_tfidf's libm
    discipline); counts and support filter are exact integers."""
    d = Tables(spark, sf_dir).documents
    tok = d.select(F.explode(tokens()).alias("w"))
    uc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tok = tok.count()
    idx = F.sequence(F.lit(1), F.size(F.col("t")) - 1)
    pairs = (
        d.select(tokens().alias("t"))
        .where(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("w1"),
                        F.element_at(F.col("t"), i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    n_big = pairs.count()
    ca = uc.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    cb = uc.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.lit(float(n_big)))
        / (
            (F.col("ca").cast("double") / F.lit(float(n_tok)))
            * (F.col("cb").cast("double") / F.lit(float(n_tok)))
        )
    )
    return (
        bc.where(F.col("c_ab") >= 5)
        .join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .select("w1", "w2", "c_ab", F.round(pmi, 6).alias("pmi"))
    )


@query(
    "text_bpe_pair",
    category="J.text",
    oracle="""
WITH vocab AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
  GROUP BY 1
),
pairs AS (
  SELECT substr(w, i, 2) AS pair, sum(freq)::BIGINT AS n
  FROM vocab, unnest(generate_series(1, len(w) - 1)) AS t(i)
  GROUP BY 1
)
SELECT pair, n
FROM pairs
QUALIFY row_number() OVER (ORDER BY n DESC, pair) <= 10
""",
)
def text_bpe_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's inner loop: count ADJACENT SYMBOL PAIRS across
    the corpus (weighted by word frequency) and emit the top-10 merge
    candidates — step 1 of byte-pair-encoding tokenizer training
    (Sennrich et al. 2016), the canonical tokenizer workload of an LLM
    data pipeline. Subsequent merge rounds are this same plan over a
    re-symbolized vocab.

    The crucial scale move is counting over the DEDUPLICATED vocabulary
    (word → freq) rather than raw text: pair explosion runs over
    |vocab| · avg_len rows, not corpus tokens — at 100 TB the vocab
    aggregate collapses the corpus ~1000× before the per-character
    explode. Pure integer counts, character-based substr in both
    engines (UTF-8 safe for the zh docs) — exact oracle; ties rank by
    pair text."""
    from pyspark.sql import Window

    d = Tables(spark, sf_dir).documents
    vocab = (
        d.select(F.explode(tokens()).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        vocab.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )
    wtop = Window.orderBy(F.col("n").desc(), "pair")
    return (
        pairs.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 10)
        .drop("rn")
    )


_PPL_ORACLE = """
WITH train AS (SELECT text FROM documents WHERE (doc_id // 20) % 2 = 0),
test AS (SELECT doc_id, text FROM documents WHERE (doc_id // 20) % 2 = 1),
ttk AS (SELECT string_split(text, ' ') AS t FROM train),
bgp AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM ttk, unnest(generate_series(1, len(t) - 1)) AS u(i)
),
bg AS (SELECT w1, w2, count(*) AS c12 FROM bgp GROUP BY 1, 2),
heads AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM bg GROUP BY 1),
vsize AS (
  SELECT count(DISTINCT w)::BIGINT AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM train)
),
tp AS (
  SELECT doc_id, i, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM test),
       unnest(generate_series(1, len(t) - 1)) AS u(i)
),
terms AS (
  SELECT tp.doc_id, tp.i,
         ln((coalesce(bg.c12, 0) + 1)::DOUBLE
            / (coalesce(h.c1, 0) + vs.v)) AS term
  FROM tp
  LEFT JOIN bg ON bg.w1 = tp.w1 AND bg.w2 = tp.w2
  LEFT JOIN heads h ON h.w1 = tp.w1
  CROSS JOIN vsize vs
),
sc AS (
  SELECT doc_id, count(*) AS n,
         list_sum(list(term ORDER BY i)) AS s
  FROM terms GROUP BY 1
)
SELECT doc_id, n::BIGINT AS n_bigrams,
       round(-s / n, 6) AS avg_nll,
       round(exp(-s / n), 6) AS perplexity
FROM sc
"""


@query("text_perplexity", category="J.text", oracle=_PPL_ORACLE)
def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PERPLEXITY under the corpus's own add-1 bigram LM —
    the classic model-based quality filter of pretraining pipelines
    (CCNet-style: train a cheap LM on the corpus, drop the docs the
    model finds surprising). Trains on alternating 20-doc blocks (the
    ml_naive_bayes block-split discipline — `source` cycles with
    doc_id % 20) and scores the held-out blocks:
    P(w2|w1) = (c12+1)/(c1+|V|), ppl = exp(−Σ ln P / n).

    Exactness: counts are integers, each probability is one division,
    and the per-doc log-likelihood folds in POSITION order (fsum ≡
    DuckDB list(term ORDER BY i) + list_sum); ln/exp parity per the
    ml_naive_bayes / scalar_trig precedent. Unseen heads degrade to
    1/|V| by the same formula — no special-casing. Scale: the model is
    the train half's observed-bigram table, joined on (w1,w2) then w1
    — the same partitioning cascade text_bigram_lm documents; scoring
    is wordcount-shaped, nothing is ever all-pairs."""
    from ..functions.vector import fsum

    d = Tables(spark, sf_dir).documents
    train = d.filter(F.expr("(doc_id div 20) % 2 = 0")).select("text")
    test = d.filter(F.expr("(doc_id div 20) % 2 = 1")).select("doc_id", "text")
    tt = train.select(tokens().alias("t"))
    idx = F.sequence(F.lit(1), F.size(F.col("t")) - 1)
    tpairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col("t"), i).alias("w1"),
            F.element_at(F.col("t"), i + 1).alias("w2"),
        ),
    )
    bg = (
        tt.where(F.size("t") >= 2)
        .select(F.explode(tpairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .cache()  # feeds both the bigram join and the head marginals
    )
    heads = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vsize = (
        train.select(F.explode(tokens()).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    ipairs = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("i"),
            F.element_at(F.col("t"), i).alias("w1"),
            F.element_at(F.col("t"), i + 1).alias("w2"),
        ),
    )
    tp = (
        test.select("doc_id", tokens().alias("t"))
        .where(F.size("t") >= 2)
        .select("doc_id", F.explode(ipairs).alias("p"))
        .select("doc_id", "p.i", "p.w1", "p.w2")
    )
    terms = (
        tp.join(bg, ["w1", "w2"], "left")
        .join(heads, ["w1"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            "i",
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ).alias("term"),
        )
    )
    sc = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        fsum(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "term"))),
                lambda p: p.getField("term"),
            )
        ).alias("s"),
    )
    s, n = F.col("s"), F.col("n")
    return sc.select(
        "doc_id",
        n.alias("n_bigrams"),
        F.round(-s / n, 6).alias("avg_nll"),
        F.round(F.exp(-s / n), 6).alias("perplexity"),
    )


@query(
    "text_zipf",
    category="J.text",
    oracle="""
WITH wc AS (
  SELECT word, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY 1
),
r AS (
  SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS rk FROM wc
),
t AS (SELECT rk, c FROM r WHERE rk <= 100),
l AS (
  SELECT count(*) AS n,
         list(ln(rk::DOUBLE) ORDER BY rk) AS lx,
         list(ln(c::DOUBLE) ORDER BY rk) AS ly,
         list(ln(rk::DOUBLE) * ln(c::DOUBLE) ORDER BY rk) AS lxy,
         list(ln(rk::DOUBLE) * ln(rk::DOUBLE) ORDER BY rk) AS lxx,
         list(ln(c::DOUBLE) * ln(c::DOUBLE) ORDER BY rk) AS lyy
  FROM t
)
SELECT n::BIGINT AS n_words,
       round((n * list_sum(lxy) - list_sum(lx) * list_sum(ly))
             / (n * list_sum(lxx) - list_sum(lx) * list_sum(lx)), 6)
         AS zipf_slope,
       round(((n * list_sum(lxy) - list_sum(lx) * list_sum(ly))
              * (n * list_sum(lxy) - list_sum(lx) * list_sum(ly)))
             / ((n * list_sum(lxx) - list_sum(lx) * list_sum(lx))
                * (n * list_sum(lyy) - list_sum(ly) * list_sum(ly))), 6)
         AS zipf_r2
FROM l
""",
)
def text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus: OLS slope of ln(freq) ~ ln(rank)
    on the top-100 words — the distribution-shape screen a pretraining
    pipeline runs per source (natural language sits near slope −1;
    boilerplate/spam/markup corpora bend away from it; Piantadosi 2014).

    Ranks come from a row_number over (count DESC, word) — the
    vocabulary-bounded topk_global pattern: the sort input is the
    DEDUPLICATED vocab (sublinear in corpus size by Heaps' law), never
    the token stream, so the single-partition rank sort stays small at
    any corpus scale while the wordcount underneath is the fully
    parallel canonical shuffle. Exactness: counts and ranks are exact
    integers; each ln() term is computed on identical integer inputs
    (ln/exp parity per the text_perplexity precedent), and ALL FIVE
    regression moments fold in RANK order on both engines (fsum ≡
    list(… ORDER BY rk) + list_sum) — separate single-accumulator folds
    per moment, because DuckDB 1.0's list_reduce corrupts multi-field
    struct accumulators (the documented trap). Final slope/r² are the
    stat_linreg closed forms with operand order mirrored, rounded 6 dp."""
    from ..functions.vector import fsum

    d = Tables(spark, sf_dir).documents
    wc = (
        d.select(F.explode(tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk_w = Window.orderBy(F.col("c").desc(), F.col("word"))
    t = (
        wc.select("word", "c", F.row_number().over(rk_w).alias("rk"))
        .where(F.col("rk") <= 100)
    )
    l = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sort_array(
            F.collect_list(F.struct(F.col("rk"), F.col("c")))
        ).alias("arr"),
    )
    arr = F.col("arr")
    lnrk = lambda s: F.log(s.getField("rk").cast("double"))  # noqa: E731
    lnc = lambda s: F.log(s.getField("c").cast("double"))  # noqa: E731
    sx = fsum(F.transform(arr, lnrk))
    sy = fsum(F.transform(arr, lnc))
    sxy = fsum(F.transform(arr, lambda s: lnrk(s) * lnc(s)))
    sxx = fsum(F.transform(arr, lambda s: lnrk(s) * lnrk(s)))
    syy = fsum(F.transform(arr, lambda s: lnc(s) * lnc(s)))
    n = F.col("n")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    # try_divide: den = 0 on an empty or single-word vocabulary (the
    # empty/one-row fixture sweep) where DuckDB's x/0 yields NULL
    return l.select(
        n.cast("long").alias("n_words"),
        F.round(F.try_divide(num, den), 6).alias("zipf_slope"),
        F.round(
            F.try_divide(num * num, den * (n * syy - sy * sy)), 6
        ).alias("zipf_r2"),
    )


@query(
    "text_bm25",
    category="J.text",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (
  SELECT count(*) AS nd, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
),
q AS (SELECT unnest(['hash', 'join', 'scan']) AS term),
tf AS (
  SELECT t.doc_id, t.word AS term, count(*) AS tf
  FROM toks t JOIN q ON t.word = q.term
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (stats.nd - df.df + 0.5) / (df.df + 0.5))
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS w
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
agg AS (
  SELECT doc_id, count(*) AS n_terms,
         round(list_sum(list(w ORDER BY term)), 6) AS score
  FROM scored GROUP BY 1
)
SELECT doc_id, n_terms::BIGINT AS n_terms, score
FROM agg
ORDER BY score DESC, doc_id
LIMIT 20
""",
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Robertson & Walker 1994; Lucene's
    +1-inside-the-ln idf variant so weights stay positive on a
    31-word vocab where df > N/2) for the query {hash, join, scan} —
    the ranking function behind every text-search sink this engine
    would feed. k1 = 1.2, b = 0.75 (the standard constants, inlined as
    identical literals on both engines).

    Execution shape: ONE tokenize/explode pass feeds doc lengths and
    the query-filtered term frequencies (the filter shrinks the posting
    join to |query| terms BEFORE any shuffle); df and the corpus stats
    are tiny broadcast sides; per-doc scores fold the ≤3 term weights
    in TERM order (fsum ≡ list ORDER BY + list_sum) so the double sum
    is fold-order-pinned. Top-20 is TakeOrderedAndProject on the
    6-dp-ROUNDED score with doc_id tiebreak (the argmax-determinism
    recipe: round first, then total-order)."""
    from ..functions.vector import fsum

    d = Tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(tokens()).alias("word")).cache()
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("nd"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    terms = ["hash", "join", "scan"]
    tf = (
        toks.where(F.col("word").isin(terms))
        .groupBy("doc_id", F.col("word").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                F.log(
                    1
                    + (F.col("nd") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * F.lit(2.2))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        1
                        - 0.75
                        + F.lit(0.75) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("w"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(
            fsum(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("term"), F.col("w")))
                    ),
                    lambda s: s.getField("w"),
                )
            ),
            6,
        ).alias("score"),
    )
    return (
        agg.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
        .select("doc_id", "n_terms", "score")
    )


_CHUNK_LEN = 64
_CHUNK_STRIDE = 48


@query(
    "text_chunk",
    category="J.text",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
idx AS (
  SELECT doc_id, n,
         unnest(range(0, (CASE WHEN n <= {_CHUNK_LEN} THEN 0
                               ELSE (n - {_CHUNK_LEN} + {_CHUNK_STRIDE} - 1)
                                    // {_CHUNK_STRIDE} END) + 1)) AS i,
         toks
  FROM t
)
SELECT doc_id, i AS chunk_idx,
       (1 + i * {_CHUNK_STRIDE})::BIGINT AS start_tok,
       least({_CHUNK_LEN}, n - i * {_CHUNK_STRIDE})::BIGINT AS chunk_len,
       array_to_string(toks[1 + i * {_CHUNK_STRIDE} :
                            i * {_CHUNK_STRIDE}
                            + least({_CHUNK_LEN}, n - i * {_CHUNK_STRIDE})],
                       ' ') AS chunk_text
FROM idx
""",
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — 64-token windows on a
    48-token stride (25% overlap), the RAG-indexing / long-context
    pretraining splitter that complements pack_sequences (which packs
    docs INTO sequences; this splits docs ACROSS windows so no context
    boundary loses more than the overlap). Chunk count per doc is
    1 + ceil((n−64)/48) for n > 64, else 1 — the last window is
    allowed to run short rather than re-reading the tail twice.

    Pure per-row array algebra: tokenize once, explode the chunk index
    range, slice — a narrow map-side pipeline with NO shuffle at all
    (the ideal 100 TB shape: chunking parallelism is exactly input
    parallelism, and the output is written partition-local). Integer
    arithmetic only; the text reassembles with the same single-space
    join the tokenizer contract guarantees round-trips."""
    d = Tables(spark, sf_dir).documents
    t = d.select(
        "doc_id", tokens().alias("toks"), F.size(tokens()).alias("n")
    )
    n = F.col("n")
    max_i = F.when(n <= _CHUNK_LEN, F.lit(0)).otherwise(
        F.floor(
            (n - _CHUNK_LEN + _CHUNK_STRIDE - 1) / _CHUNK_STRIDE
        )
    )
    idx = t.select(
        "doc_id",
        "n",
        "toks",
        F.explode(F.sequence(F.lit(0), max_i)).alias("i"),
    )
    i = F.col("i")
    start = 1 + i * _CHUNK_STRIDE
    clen = F.least(F.lit(_CHUNK_LEN), n - i * _CHUNK_STRIDE)
    return idx.select(
        "doc_id",
        i.alias("chunk_idx"),
        start.cast("long").alias("start_tok"),
        clen.cast("long").alias("chunk_len"),
        F.array_join(F.slice(F.col("toks"), start, clen), " ").alias(
            "chunk_text"
        ),
    )


@query(
    "text_substring_dup",
    category="J.text",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, source,
         md5(array_to_string(t[g.i:g.i+7], ' ')) AS h
  FROM toks, (SELECT unnest(generate_series(1, 512)) AS i) g
  WHERE g.i <= len(t) - 7
),
cnt AS (SELECT h, count(*) AS c FROM grams GROUP BY 1),
flagged AS (
  SELECT g.source, g.h, cnt.c >= 2 AS dup
  FROM grams g JOIN cnt ON g.h = cnt.h
),
docs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
SELECT d.source, d.n_docs,
       count(*) AS total_windows,
       count(*) FILTER (WHERE dup) AS dup_windows,
       round(count(*) FILTER (WHERE dup) * 1.0 / count(*), 6) AS dup_ratio
FROM flagged f JOIN docs d ON f.source = d.source
GROUP BY d.source, d.n_docs
""",
)
def text_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring duplication audit — the Lee et al. 2022
    "Deduplicating Training Data" measurement the minhash/simhash
    ladder can't give: slide an 8-token window over every document,
    hash each window (md5 of the space-joined tokens — engine-portable,
    collision-negligible at fixture scale), and count windows whose
    exact text occurs ≥2 times ANYWHERE in the corpus, reported as a
    per-source duplication ratio (the signal that a shard is
    boilerplate-heavy and needs substring-level dedup before
    training). Windows cap at the first 512 per document (both
    engines) — a fixed per-doc audit budget that keeps the blowup
    factor bounded by 512× regardless of document length. Plan:
    windows materialize as ONE per-row hash array
    (transform over sequence — no per-window row explosion until the
    single explode), the occurrence count is one hash-keyed partial-agg
    shuffle, and the join back is hash-co-partitioned with it; at
    100 TB this is the canonical shape of suffix-style dedup after
    shingling. Short docs (<8 tokens) contribute zero windows but
    still count in n_docs."""
    d = Tables(spark, sf_dir).documents
    t = F.split(F.col("text"), " ")
    # window count caps at 512/doc on BOTH sides (oracle:
    # generate_series(1, 512)) — without the Spark-side least() any
    # document over 519 tokens would silently diverge (round-7 ADVICE;
    # the fixture's ≤512-token docs made the gap latent).
    gram_hashes = F.when(
        F.size(t) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.least(F.size(t) - 7, F.lit(512))),
            lambda i: F.md5(
                F.concat_ws(
                    " ", F.slice(t, i.cast("int"), 8)
                ).cast("binary")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = d.select(
        "source", F.explode(gram_hashes).alias("h")
    ).cache()  # feeds the count agg AND the join back
    cnt = grams.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    flagged = grams.join(cnt, "h").select(
        "source", (F.col("c") >= 2).alias("dup")
    )
    docs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_windows"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("dup_windows"),
        )
        .join(F.broadcast(docs), "source")
        .select(
            "source",
            "n_docs",
            "total_windows",
            "dup_windows",
            F.round(
                F.col("dup_windows") * F.lit(1.0) / F.col("total_windows"), 6
            ).alias("dup_ratio"),
        )
    )
