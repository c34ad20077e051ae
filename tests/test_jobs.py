"""Generic job builders over non-fixture DataFrames (the migrating-user
surface: same jobs, arbitrary input; the registry keys bind the same
builders to the fixture tables)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_server_spark import jobs


def _corpus(spark):
    return spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a c c")], "id long, body string"
    )


def test_word_count(spark):
    got = {(r.word, r.cnt) for r in jobs.word_count(_corpus(spark), "body").collect()}
    assert got == {("a", 3), ("b", 2), ("c", 3)}


def test_grep(spark):
    got = jobs.grep(_corpus(spark), "body", "a b").collect()
    assert [r.body for r in got] == ["a b a"]


def test_grep_matches_a_column_it_does_not_return(spark):
    docs = spark.createDataFrame(
        [(1, "en", "sort join wins"), (2, "de", "hash join")],
        "doc_id long, lang string, text string",
    )
    got = jobs.grep(docs, "text", "(merge|sort) (join|window)").select("doc_id", "lang")
    assert [tuple(r) for r in got.collect()] == [(1, "en")]


def test_inverted_index(spark):
    got = {r.word: r.postings for r in jobs.inverted_index(_corpus(spark), "id", "body").collect()}
    assert got == {"a": [1, 3], "b": [1, 2], "c": [2, 3]}


def test_top_k(spark):
    df = spark.createDataFrame([(i, i * 7 % 5) for i in range(20)], "i long, v long")
    top = jobs.top_k(df, 3, F.desc("v"), F.asc("i")).collect()
    assert [(r.i, r.v) for r in top] == sorted(
        [(i, i * 7 % 5) for i in range(20)], key=lambda t: (-t[1], t[0])
    )[:3]


def test_histogram(spark):
    df = spark.createDataFrame([(i % 3, float(i)) for i in range(12)], "k long, v double")
    hist = {r.bucket: r.n for r in jobs.histogram(df, "v", 5.0).collect()}
    assert hist == {0: 5, 1: 5, 2: 2}


def test_exact_dedup_min_survivor(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y")], "id long, body string"
    )
    got = {(r.id, r.body) for r in jobs.exact_dedup(df, ["body"], "id").collect()}
    assert got == {(1, "x"), (2, "y")}


def test_exact_dedup_counts_copies_with_one_null_group(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y"), (5, None), (4, None)], "id long, body string"
    )
    got = {tuple(r) for r in jobs.exact_dedup(df, ["body"], "id").collect()}
    assert got == {(1, "x", 2), (2, "y", 1), (4, None, 2)}


def test_near_dedup_jaccard_generic(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f"),   # exact copy of 1 → jaccard 1.0
            (3, "a b c d e zzz"), # near copy
            (4, "q r s t u v"),   # unrelated
        ],
        "id long, body string",
    )
    rows = {(r.id_a, r.id_b): r.jaccard for r in jobs.near_dedup_jaccard(df, "id", "body", 0.4).collect()}
    assert rows[(1, 2)] == 1.0
    assert (1, 3) in rows and (2, 3) in rows
    assert not any(4 in pair for pair in rows)


def test_near_dedup_jaccard_pairs_no_null_text(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, None), (4, "a b c d")], "id long, body string"
    )
    got = {tuple(r) for r in jobs.near_dedup_jaccard(df, "id", "body").collect()}
    assert got == {(1, 4, 1.0)}


def test_sessionize_generic(spark):
    df = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:00"),
            (1, 2, "2024-01-01 10:10:00"),
            (1, 3, "2024-01-01 11:30:00"),  # > 30 min gap → new session
            (2, 4, "2024-01-01 09:00:00"),
        ],
        "uid long, eid long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r.uid, r.ts.isoformat(), r.session_id)
        for r in jobs.sessionize(df, "uid", "ts", "eid", 30 * 60).collect()
    }
    assert got == {
        (1, "2024-01-01T10:00:00", 1),
        (1, "2024-01-01T10:10:00", 1),
        (1, "2024-01-01T11:30:00", 2),
        (2, "2024-01-01T09:00:00", 1),
    }


def test_knn_topk_generic(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1]), (4, [-1.0, 0.0])],
        "id long, vec array<double>",
    )
    rows = jobs.knn_topk(df, "id", "vec", [1.0, 0.0], k=2).collect()
    assert [r.id for r in rows] == [1, 3]
    assert rows[0].cos_sim == 1.0


def test_forward_fill_generic(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (1, 3, 30.0), (1, 4, None), (2, 1, None)],
        "k long, o long, v double",
    )
    got = {(r.k, r.o): r.v for r in jobs.forward_fill(df, "k", "o", ["v"]).collect()}
    assert got == {(1, 1): 10.0, (1, 2): 10.0, (1, 3): 30.0, (1, 4): 30.0, (2, 1): None}
