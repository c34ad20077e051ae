"""Round-6 operators: runtime bloom-filter join, count-min sketch,
PII scrub — semantics beyond the oracle parity gate (test_oracle_parity
covers exact value equality for all three)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_server_spark import REGISTRY, registry
from mapreduce_server_spark.plans import plan_string

from .conftest import SF001


def test_bloom_join_plan_has_runtime_filter(spark):
    """The whole point of join_bloom_runtime: the physical plan probes a
    bloom_filter_agg subquery on the fact scan side."""
    df = registry.build_plan(spark, SF001, "join_bloom_runtime")
    p = plan_string(df, "extended")
    assert "might_contain" in p
    assert "bloom_filter_agg" in p


def test_bloom_join_restores_session_confs(spark):
    """Conf pinning is scoped to the fn's own physical compile — the
    session the driver shares across queries must come back untouched."""
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    REGISTRY["join_bloom_runtime"].raw_fn(spark, SF001)
    after = {k: spark.conf.get(k) for k in before}
    assert after == before


def test_countmin_overestimates_only(spark):
    """CM guarantee: collisions only ADD, so n_est >= n_exact for every
    probed key; with 60k rows in 4x512 counters the estimate must also
    stay within the epsilon*N additive bound with room to spare."""
    rows = REGISTRY["sketch_countmin"].fn(spark, SF001).collect()
    assert len(rows) == 10
    n_total = 60000  # sf0.01 lineitem rows (FIXTURES.md)
    for r in rows:
        assert r.n_est >= r.n_exact, (r.l_partkey, r.n_exact, r.n_est)
        # e*N with e=2.71/w would be ~319; generous factor-2 headroom
        assert r.n_est - r.n_exact < 2 * 2.71828 * n_total / 512


def test_pii_scrub_counts_and_invariants(spark):
    """Each constructed contact string contains exactly 2 emails + 1 IP;
    after the scrub no raw email/IP can remain (the audit counts say the
    regexes fired, the invariant says they consumed their matches)."""
    rows = REGISTRY["text_pii_scrub"].fn(spark, SF001).collect()
    assert rows  # one row per source
    for r in rows:
        assert r.emails_redacted == 2 * r.n_docs
        assert r.ips_redacted == r.n_docs
        assert r.docs_with_email == r.n_docs

    # direct check on the scrubbed strings themselves, not just the agg
    from mapreduce_server_spark.sources.loader import Tables

    d = Tables(spark, SF001).documents.limit(50)
    email = r"[a-z0-9._%-]+@[a-z0-9.-]+\.[a-z]{2,}"
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
    )
    scrubbed = d.select(
        F.regexp_replace(contact, email, "<EMAIL>").alias("s")
    )
    leaked = scrubbed.filter(F.col("s").rlike(email)).count()
    assert leaked == 0


# --- round-6 second batch: ts_interpolate, ts_mad_outliers,
#     sample_stratified, text_keywords, udf_map_in_arrow,
#     join_interval_grid (exact parity for all six lives in
#     test_oracle_parity; these pin semantics the oracle can't state) ---


def test_interpolate_rows_lie_between_neighbors(spark):
    """Interpolated values are convex combinations: every is_interp row
    sits within [min, max] of its user's observed hourly means."""
    rows = REGISTRY["ts_interpolate"].fn(spark, SF001).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    n_interp = 0
    for rs in by_user.values():
        obs = [r.v_interp for r in rs if not r.is_interp]
        lo, hi = min(obs), max(obs)
        for r in rs:
            if r.is_interp:
                n_interp += 1
                assert lo - 1e-9 <= r.v_interp <= hi + 1e-9
    assert n_interp > 0  # the grid actually had gaps to fill


def test_mad_outliers_are_rare_and_extreme(spark):
    """MAD flagging: every flagged row exceeds the threshold, and the
    flagged set is a small tail (robust stats can't flag the bulk)."""
    from mapreduce_server_spark.sources.loader import Tables

    rows = REGISTRY["ts_mad_outliers"].fn(spark, SF001).collect()
    n_events = Tables(spark, SF001).events.count()
    assert 0 < len(rows) < 0.1 * n_events
    assert all(abs(r.rz) > 3.0 for r in rows)


def test_stratified_sample_equalizes_strata(spark):
    """Each stratum lands near the ~100-row target regardless of its
    raw size (Chernoff: ±50% is ~5 sigma out at n=100)."""
    rows = REGISTRY["sample_stratified"].fn(spark, SF001).collect()
    per = {}
    for r in rows:
        per[r.event_type] = per.get(r.event_type, 0) + 1
    assert len(per) == 5
    for et, n in per.items():
        assert 50 <= n <= 150, (et, n)


def test_keywords_top3_ranked(spark):
    """<=3 keywords per doc, rank-consecutive, tfidf non-increasing."""
    rows = REGISTRY["text_keywords"].fn(spark, SF001).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        for x, y in zip(rs, rs[1:]):
            assert x.tfidf >= y.tfidf


def test_map_in_arrow_matches_jvm_fold_bitwise(spark):
    """The Arrow worker's left-fold norm must be BIT-identical to the
    JVM F.aggregate left fold on cast-to-double elements — same op
    sequence, same IEEE rounding, zero tolerance."""
    from mapreduce_server_spark.sources.loader import Tables

    got = {
        r.vec_id: (r.l2_norm, r.head_norm)
        for r in REGISTRY["udf_map_in_arrow"].fn(spark, SF001).collect()
    }
    e = Tables(spark, SF001).embeddings
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda s, x: s + x.cast("double") * x.cast("double"),
        )
    )
    want = {
        r.vec_id: (r.n, r.h)
        for r in e.select(
            "vec_id",
            norm.alias("n"),
            (F.element_at("embedding", 1).cast("double") / norm).alias("h"),
        ).collect()
    }
    assert got == want  # dict equality == bitwise float equality


def test_interval_grid_plan_is_equi_join(spark):
    """The whole point: the overlap join must compile to a hash/merge
    EQUI-join on (user_id, cell) — never a nested-loop/cartesian theta
    plan (which is what the oracle's naive SQL would do)."""
    df = registry.build_plan(spark, SF001, "join_interval_grid")
    p = plan_string(df, "formatted")
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_hll_merge_equals_oneshot_sketch(spark):
    """The property that makes sketches THE scale path: union of per-day
    sketches gives the SAME estimate as one sketch over raw rows (merge
    is lossless for HLL), and the estimate tracks the exact count."""
    from mapreduce_server_spark.sources.loader import Tables

    merged = {
        r.event_type: r.est_users
        for r in REGISTRY["sketch_hll_merge"].fn(spark, SF001).collect()
    }
    ev = Tables(spark, SF001).events
    direct = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("long")
            .alias("est")
        )
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert merged == direct  # sketch-union associativity, bit-exact
    for et, est in merged.items():
        assert abs(est - exact[et]) <= 0.05 * exact[et] + 2


def test_psi_identical_distributions_is_exactly_zero(spark):
    """PSI is a divergence: p == q per bucket must give EXACTLY 0.0
    (every term is 0 * ln(1)), and the real corpus must score >= 0.
    Built by re-keying documents so both synthetic sources get the
    identical bucket histogram (doc_id 0..499: each (parity, mod-5)
    cell holds exactly 50 docs)."""
    from mapreduce_server_spark.sources.loader import Tables

    rows = REGISTRY["quality_drift_psi"].fn(spark, SF001).collect()
    assert len(rows) == 20
    assert all(r.psi >= 0 for r in rows)

    d = Tables(spark, SF001).documents.select(
        (F.col("doc_id") % 2).cast("string").alias("source"),
        ((F.col("doc_id") % 5) * 100).alias("n_chars"),
    )
    b = d.groupBy(
        "source", F.floor(F.col("n_chars") / 100).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = b.groupBy("bucket").agg(F.sum("c").cast("double").alias("tc"))
    ns = b.groupBy("source").agg(F.sum("c").cast("double").alias("ns"))
    na = b.agg(F.sum("c").cast("double").alias("na"))
    p = F.col("c").cast("double") / F.col("ns")
    q = (F.col("tc") - F.col("c")) / (F.col("na") - F.col("ns"))
    psis = (
        b.join(F.broadcast(tot), "bucket")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(na))
        .where(F.col("tc") - F.col("c") > 0)
        .groupBy("source")
        .agg(F.sum((p - q) * F.log(p / q)).alias("psi"))
        .collect()
    )
    assert len(psis) == 2
    assert all(r.psi == 0.0 for r in psis)


def test_holt_tracks_linear_series(spark):
    """(l=t, b=1) is an exact fixed point of the Holt recurrence on
    x_t = t, and the iteration contracts toward it — after 100 steps
    the trend must be ~1 and the one-step forecast ~the next value.
    (Parity for the real-events fold lives in test_oracle_parity; the
    oracle is a recursive CTE because DuckDB 1.0 list_reduce corrupts
    multi-field struct accumulators — see the ts_holt docstring.)"""
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(vals=[float(t) for t in range(100)])])
    half = F.lit(0.5)
    vals = F.col("vals")
    seed = F.struct(F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("b"))
    new_l = lambda s, x: x * half + (s.getField("l") + s.getField("b")) * half
    st = F.aggregate(
        F.slice(vals, F.lit(2), F.size(vals) - 1),
        seed,
        lambda s, x: F.struct(
            new_l(s, x).alias("l"),
            ((new_l(s, x) - s.getField("l")) * half + s.getField("b") * half).alias("b"),
        ),
    )
    r = df.select(
        st.getField("l").alias("l"), st.getField("b").alias("b")
    ).collect()[0]
    assert abs(r.l - 99.0) < 1e-6
    assert abs(r.b - 1.0) < 1e-6


def test_ks_zero_on_identical_and_detects_planted_shift(spark):
    """KS identity: equal per-source distributions give exactly 0 D-stat
    (integer cum counts divide to identical fractions). Sensitivity: a
    +300-char shift planted on one source must dominate every natural
    source's score — the binning-free complement the PSI test can't pin
    (PSI's skip-bucket rule hides novel support; KS's sup-norm sees
    it)."""
    from mapreduce_server_spark.sources.loader import Tables

    rows = REGISTRY["quality_drift_ks"].fn(spark, SF001).collect()
    assert len(rows) == 20
    natural_max = max(r.ks for r in rows)
    assert all(0 <= r.ks <= 1 for r in rows)

    def ks_of(d):
        counts = d.groupBy("source", F.col("n_chars").alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        vals = counts.select("v").distinct()
        srcs = counts.groupBy("source").agg(F.sum("c").alias("ns"))
        n_total = d.count()
        from pyspark.sql import Window

        wsrc = (
            Window.partitionBy("source")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = (
            srcs.crossJoin(F.broadcast(vals))
            .join(counts, ["source", "v"], "left")
            .select(
                "source",
                "ns",
                "v",
                F.sum(F.coalesce("c", F.lit(0))).over(wsrc).alias("cs"),
            )
        )
        wall = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cumall = (
            counts.groupBy("v")
            .agg(F.sum("c").alias("cv"))
            .select("v", F.sum("cv").over(wall).alias("ca"))
        )
        dist = F.abs(
            F.col("cs").cast("double") / F.col("ns")
            - (F.col("ca") - F.col("cs")).cast("double")
            / (F.lit(n_total) - F.col("ns"))
        )
        return {
            r.source: r.ks
            for r in cum.join(F.broadcast(cumall), "v")
            .groupBy("source")
            .agg(F.round(F.max(dist), 6).alias("ks"))
            .collect()
        }

    docs = Tables(spark, SF001).documents
    identical = docs.select(
        (F.col("doc_id") % 2).cast("string").alias("source"),
        ((F.col("doc_id") % 5) * 100).alias("n_chars"),
    )
    assert all(v == 0.0 for v in ks_of(identical).values())

    shifted = docs.select(
        "source",
        F.when(F.col("source") == "src0", F.col("n_chars") + 300)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    assert ks_of(shifted)["src0"] > max(0.5, 1.5 * natural_max)
