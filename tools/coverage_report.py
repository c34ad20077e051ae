#!/usr/bin/env python
"""Regenerate COVERAGE.md: the SURVEY.md §2 inventory vs the registry.

Run after adding operators:  python tools/coverage_report.py
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_server_spark import REGISTRY  # noqa: E402

# SURVEY §2 keys → how this repo covers them (registry key, or the
# non-registry artifact that carries them).
SURVEY_MAP: dict[str, str] = {
    "parquet scan": "every query (spark.read.parquet via sources/loader.py)",
    "scan_project": "scan_project",
    "text/csv/json ingest": "sources/ingest.py + tests/test_ingest.py (no fixture files → util per SURVEY §2.A)",
    "sink partitioned": "sink_partitioned + sources/ingest.write_partitioned",
    "filter_grep": "filter_grep",
    "filter_pred": "filter_pred",
    "filter_in_between": "filter_in_between",
    "project_compute": "project_compute",
    "project_null": "project_null",
    "join_inner": "join_inner (bare) + q3_join_topk (flagship)",
    "join_broadcast": "join_broadcast",
    "join_left/right/full": "join_left, join_right, join_full",
    "join_semi": "join_semi",
    "join_anti": "join_anti",
    "join_cross": "join_cross",
    "join_theta": "join_theta",
    "join_range": "join_range",
    "join_asof": "join_asof",
    "join_self": "join_self",
    "agg_global": "agg_global",
    "agg_group": "agg_group (bare) + q1_pricing_summary (flagship)",
    "agg_multi": "agg_multi",
    "agg_distinct": "agg_distinct",
    "agg_approx_distinct": "agg_approx_distinct (rows-only + error-bound pytest)",
    "agg_collect": "agg_collect",
    "agg_rollup": "agg_rollup",
    "agg_cube": "agg_cube",
    "agg_grouping_sets": "agg_grouping_sets",
    "agg_having": "agg_having",
    "win_rownum_topk": "win_rownum_topk",
    "win_rank": "win_rank",
    "win_lag_lead": "win_lag_lead",
    "win_running": "win_running",
    "win_range_frame": "win_range_frame",
    "win_first_last": "win_first_last",
    "sort_global": "sort_global",
    "topk_global": "topk_global",
    "limit_n": "limit_n (rows-only by design)",
    "sort_multi": "sort_multi",
    "set_union_all": "set_union_all",
    "set_union_distinct": "set_union_distinct",
    "set_intersect": "set_intersect",
    "set_except": "set_except + set_except_all",
    "distinct_rows": "distinct_rows",
    "scalar_string": "scalar_string",
    "scalar_date": "scalar_date",
    "scalar_math": "scalar_math",
    "scalar_cond": "scalar_cond",
    "scalar_array": "scalar_array",
    "scalar_json": "scalar_json",
    "stream_tumbling": "stream_tumbling; streaming form: its builder events_batch.hourly_totals over a watermarked stream",
    "stream_sliding": "stream_sliding; streaming form: its builder events_batch.sliding_counts over a watermarked stream",
    "stream_session": "stream_session + streaming/twins.session (twin==batch pytest)",
    "stream_dedup": "stream_dedup + streaming/twins.dedup (differs by design: event_id dedup within the watermark)",
    "stream_late": "tests/test_streaming.py::test_watermark_drops_late_data (pytest-only per SURVEY)",
    "stream_stateful": "stream_running_users (batch) + streaming/twins.first_seen_users (applyInPandasWithState)",
    "text_wordcount": "text_wordcount",
    "text_grep": "text_grep",
    "text_inverted_index": "text_inverted_index",
    "text_tfidf": "text_tfidf",
    "text_lang_stats": "text_lang_stats",
    "text quality/tokens/fingerprint/langid (north star)": "text_quality, text_token_count, text_fingerprint, text_langid",
    "dedup_exact": "dedup_exact + dedup_exact_hash",
    "dedup_minhash": "dedup_minhash (planted-pair pytest at sf0.1)",
    "dedup simhash/ngram/embedding (north star)": "dedup_simhash, dedup_ngram_jaccard, dedup_embedding",
    "knn_bruteforce": "knn_bruteforce",
    "knn_join": "knn_join",
    "knn approximate (north star)": "knn_lsh (deterministic hyperplane LSH)",
    "emb_label_centroids": "emb_label_centroids",
    "multimodal_join": "multimodal_join",
    "multimodal binary columns (north star)": "multimodal_features, multimodal_frame_sample + multimodal/binary.py",
    "MR04 §2.3 canonical example set": (
        "grep → filter_grep/text_grep; URL-access count → agg_group; "
        "reverse web-link graph → graph_reverse_links; term-vector per host "
        "→ text_term_vector; inverted index → text_inverted_index; "
        "wordcount → text_wordcount; sort → sort_global (TeraSort)"
    ),
    "curation pipeline composition (north star)": "pipeline_curation (quality→dedup→join→stats in one plan)",
    "composite TPC-H-shaped workloads": "q1_pricing_summary, q3_join_topk, q5_local_volume, q10_returned_items, q12_priority_class, q14_promo_ratio",
    "udf_python": "udf_python",
    "udf_pandas_scalar": "udf_pandas_scalar",
    "udaf_pandas": "udaf_pandas",
    "udtf_flatmap": "udtf_flatmap",
}


def main() -> None:
    by_cat: dict[str, list] = defaultdict(list)
    for key, spec in sorted(REGISTRY.items()):
        by_cat[spec.category or "?"].append(spec)

    lines = [
        "# COVERAGE — SURVEY.md §2 inventory vs the registry",
        "",
        "Generated by `python tools/coverage_report.py`; do not edit by hand.",
        "",
        f"Registered queries: **{len(REGISTRY)}** "
        f"({sum(1 for s in REGISTRY.values() if s.oracle)} DuckDB-oracle-checked, "
        f"{sum(1 for s in REGISTRY.values() if not s.oracle)} rows-only by design).",
        "",
        "## SURVEY §2 line-by-line",
        "",
        "| SURVEY §2 item | covered by |",
        "| --- | --- |",
    ]
    for item, cover in SURVEY_MAP.items():
        lines.append(f"| {item} | {cover} |")

    lines += ["", "## Registry by category", ""]
    for cat in sorted(by_cat):
        keys = ", ".join(
            f"{s.key}{'' if s.oracle else ' (rows-only)'}" for s in by_cat[cat]
        )
        lines.append(f"- **{cat}**: {keys}")
    lines.append("")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(REGISTRY)} queries")


if __name__ == "__main__":
    main()
