"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT final JSON line (the driver captures a bounded stdout
tail — round 3's full per-query line outgrew it and the driver recorded
"parsed": null): {"metric", "value", "unit", "sf", "n_queries",
"regressions", "queries", "detail"}. "queries" carries the
largest-cost-first per-query subset that fits the 2000-char tail window
(VERDICT r10 #2 — the full 171-name map is ~5 KB and cannot fit); the
full per-query map + vs_prev ratios are written to BENCH_DETAIL.json
next to this file.

Each query is materialized with a noop-format write (full compute, no
driver-side result transfer — the honest cost of the plan).

Regression gate: prior-round per-query times come from BENCH_PREV.json
(a committed snapshot of the previous round's run; refreshed at round
start), falling back to any legacy BENCH_r{N}.json that still carries a
"queries" map. Each query reports vs_prev (this_round / prior_round) and
any query slower than REGRESSION_RATIO x its prior time is listed under
"regressions" — totals across rounds mix different query sets, so the
per-query ratio is the comparison that means something.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family (profile, detect, remediate, dedup,
# dates, grouped agg) + one per extension family (text, near-dup ladder,
# similarity, streaming-batch windows, skew mitigation).
HEADLINE = [
    "profile_nulls_distinct",
    "profile_table",
    "outliers_detect",
    "clean_outliers_replace",
    "clean_outliers_clip",
    "dup_counts",
    "dedup_rows",
    "dates_normalize",
    # extensions
    "text_stats",
    "text_tfidf_topk",
    "text_chunks",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
    "sim_topk_ivf",
    "events_windows",
    "events_sessionize",
    "distinct_customers_per_priority",
    "events_asof_join",
    "profile_stats",  # absorbed profile_quantiles + profile_correlation
    "profile_histogram",
    "agg_pricing_grouping_sets",
    "window_topk_orders_per_segment",
    "pipeline_curate_documents",
    "events_funnel",
    # round-2 additions
    "text_global_line_dedup",
    "text_unigram_logprob",
    "sample_mix_sources",
    "events_anomaly_mad",
    "pipeline_curate_v2",
    # round-3 additions
    "cdc_merge_upsert",
    "cdc_scd2_users",
    "sample_mix_temperature",
    "layout_zorder_events",
    "sim_topk_pq",
    "events_resample_hourly",
    "text_bigram_logprob",
    "profile_quantile_sketch",
    "profile_distinct_sketch",
    "profile_corr_matrix",
    "events_rolling_features",
    "profile_benford",
    "text_pii_ccards",
    "pipeline_warehouse_sync",
    "sim_topk_ivfpq",
    "er_multi_attr_customers",
    "text_dedup_lines_within_doc",
    "decontaminate_fuzzy",
    "sql_revenue_by_nation",
    "text_clean_normalize",
    "profile_histogram2d",
    # round-4 additions
    "multimodal_decode",  # absorbed multimodal_wav_metadata r4w3
    "profile_heavy_hitters_cms",
    "sample_reservoir_per_key",
    "events_seasonal_anomaly",
    "pipeline_gdpr_erasure",
    "events_rollup_incremental",
    "er_trigram_join",
    "sim_kmeans_lloyd",
    "sql_shipping_priority",
    "layout_bucketed_join",
    "pipeline_pack_sequences",
    "text_bm25_topk",
    "sample_diverse_clusters",
    "layout_partition_overwrite",
    "quality_quarantine_orders",
    "cdc_join_refresh",
    "cdc_point_in_time_join",
    "quality_fk_orphans",
    "profile_key_skew",
    "cdc_retractable_agg",
    "text_bpe_tokenize",
    "sim_ann_recall_report",
    "multimodal_png_metadata",
    "profile_json_schema",
    "analytics_copurchase_pairs",
    "events_transition_matrix",
    "layout_dpp_join",
    "layout_parquet_audit",
    "layout_time_travel",
    "events_funnel_latency",
    "profile_mutual_information",
    "sample_target_encode",
    # round-4 second wave: sequence analytics, privacy, features,
    # dimred, bloom join, SQL entries (analytics_communities and the
    # streaming twins stay registered-unbenched like pagerank)
    "events_ewma_smooth",
    "events_cusum_alarms",
    "events_survival_km",
    "profile_chi_square",
    "privacy_k_anonymity",
    "privacy_l_diversity",
    "profile_set_overlap",
    "features_quantile_bin",
    "features_hashed",
    "features_scaled",
    "events_attribution_credit",
    "join_bloom_pruned",
    "sql_promo_revenue",
    "sql_large_volume_customers",
    "emb_pca_variance",
    "emb_random_projection",
    "features_linreg",
    "analytics_triangles",
    "events_top_paths",
    "profile_gini",
    "quality_schema_drift",
    "layout_file_provenance",
    # round-4 third wave: hypothesis tests, series/text analytics,
    # classification, graph BFS, semi/anti-join SQL entries (the
    # streaming transition-matrix twin stays registered-unbenched like
    # the other twins)
    "profile_welch_ttest",
    "profile_ks_test",
    "events_acf",
    "text_pmi_collocations",
    "ml_nb_language",
    "analytics_item_similarity",
    "analytics_bfs_hops",
    "analytics_pagerank",  # bounded 6-iteration run — tracked since r5
    "sql_orders_with_returns",
    "sql_top_revenue_suppliers",
    "analytics_rfm_segments",
    "analytics_assoc_rules",
    "profile_bootstrap_ci",
    "features_woe_encoding",
    "events_holt_forecast",
    "profile_entropy",
    "profile_nullity_corr",
    "sample_balance_classes",
    "quality_quarantine_jsonl",
    "window_order_percentiles",
    "er_blocking_eval",
    "dedup_lsh_recall_report",
    "layout_format_roundtrip",
    # round-5 additions
    "text_dsir_weights",
    "sample_dsir_resample",
    # events_gap_fill_linear absorbed into events_windows (r8)
    "multimodal_jpeg_metadata",
    "multimodal_mp4_metadata",
    # dedup_keep_best absorbed into dedup_clusters (r9) — the absorber
    # joins the headline so the merged work stays gated round-over-round
    "dedup_clusters",
    # profile_weighted_quantile absorbed into profile_stats (r8)
    "sim_hybrid_rrf",
    "sql_market_share",
    "features_isotonic_calibration",
    "pipeline_dsir_curate",
    "sql_disjunctive_promo",
    "sql_returned_item_ranking",
    # round-6 additions
    "dedup_repeated_spans",
    "sim_topk_sq8",
    "sample_dsir_kl_report",
    "multimodal_triage_routed",
    "privacy_t_closeness",
    "multimodal_gif_webp_metadata",
    "er_fellegi_sunter",
    "features_logreg",
    "features_conformal_interval",
    "pipeline_span_curate",
    "features_huber_regression",
    # sql_volume_shipping absorbed into sql_market_share (r8),
    # sql_customer_distribution into sql_orders_with_returns (r8),
    # sql_small_quantity_revenue into sql_returned_item_ranking (r8)
    # sql_supplier_relationship absorbed into sql_excess_suppliers (r9)
    # round-7 additions
    "pipeline_quality_classifier",
    "stream_quality_score",
    "dedup_spans_incremental",
    "sim_topk_ivfsq8",
    "sim_topk_ivfpq_residual",
    "sql_pricing_summary",
    "sql_local_supplier_volume",
    "sql_shipmode_priority",
    # sql_waiting_suppliers absorbed into sql_shipmode_priority (r10),
    # sql_important_parts into sql_excess_suppliers (r10)
    "sql_excess_suppliers",
    # profile_spearman absorbed into profile_welch_ttest (r8)
    "text_url_filter",
    "stream_psi_monitor",
    "features_quantile_regression",
    "pipeline_quality_calibration",
    # round-8 additions
    "pipeline_quality_remediation",
    "stream_ann_probe",
    # round-9 additions
    "pipeline_quality_serve",
    "sql_forecast_revenue",
    "sql_nation_profit",
    "sql_min_cost_supplier",
    "stream_ann_maintain",
    # round-10 additions
    "multimodal_image_neardup",
    "profile_psi_drift",  # promoted to the oracle window r10
]


REGRESSION_RATIO = 2.0

# The driver captures a BOUNDED stdout tail (2000 chars — every
# committed BENCH_r{N}.json tail is exactly that, and round 3's full
# per-query line overflowed it: parsed=null). VERDICT r10 #2 asks for
# per-query visibility back in the one-line JSON so the driver's PERF
# comparator can build per-query statuses — a full 171-name map is
# ~5 KB and can never fit, so the line carries the LARGEST-COST-FIRST
# subset that keeps the whole line under the window (names exact,
# seconds rounded to 2dp; the complete map stays in BENCH_DETAIL.json).
# Entries are only ever ADDED relative to what fits — nothing is
# renamed; membership follows measured cost, documented here and in
# OPTIMIZATION_r11.md.
DRIVER_TAIL_CHARS = 2000
LINE_BUDGET_CHARS = 1900  # headroom for the trailing newline + jitter


def queries_for_line(
    times: dict[str, float], base_obj: dict, budget: int = LINE_BUDGET_CHARS
) -> dict[str, float]:
    """The largest-cost-first per-query subset whose inclusion keeps
    the compact-serialized final line within ``budget`` chars. Greedy
    by (-seconds, name), stopping at the first entry that does not
    fit: the expensive queries are the ones a round-over-round
    comparator must see, and the subset stays a prefix of that order —
    a cheaper, shorter-named query never takes the place of a dropped
    costlier one."""
    picked: dict[str, float] = {}
    obj = dict(base_obj)
    for name in sorted(times, key=lambda n: (-times[n], n)):
        cand = dict(picked)
        cand[name] = round(times[name], 2)
        obj["queries"] = {k: cand[k] for k in sorted(cand)}
        if len(json.dumps(obj, separators=(",", ":"))) > budget:
            break
        picked = cand
    return {k: picked[k] for k in sorted(picked)}

# A flag needs BOTH the >2x ratio and a real absolute movement: every
# query pays ~0.3-0.5s of fixed per-job overhead (scheduler + plan —
# the scaling probe's documented 1x-cell floor), so a 0.5s query
# "doubling" to 1.1s under ambient host jitter carries no plan signal
# while a 5s -> 11s move always does. vs_prev still records every
# ratio transparently; the floor only gates which ones raise a flag.
FLAG_ABS_FLOOR_SEC = 1.0

# ...EXCEPT at extreme ratios (ADVICE r8): a sub-second query can sit
# under the absolute floor forever, so 0.4s -> 1.3s (3.25x) stayed
# silent. Past this ratio the floor no longer suppresses the flag —
# a >4x move carries plan signal at any magnitude (and the end-of-run
# decorrelated retry still kills pure jitter before publication).
FLAG_HARD_RATIO = 4.0

# Any query whose PUBLISHED vs_prev would exceed this is re-timed at
# end-of-run even when it is not a provisional regression flag
# (VERDICT r8 #5: driver-vs-builder runs of identical code diverged
# up to 1.6x per query — single-shot numbers are +/-70%, so no
# committed artifact should carry an un-reconciled 1.5-2x ratio that
# one more decorrelated measurement could have collapsed).
PUBLISH_RETRY_RATIO = 1.5

# Aggregate drift gate (VERDICT r8 #1): the per-query gate is blind
# to a uniform ~15% creep (every ratio under 2x, total up 16%). The
# COMMON-SET total (queries sharing an absorption-aware prior) must
# stay within this ratio of the prior total or the run is flagged for
# an idle-host min-of-3 reconciliation before promotion.
AGGREGATE_RATIO = 1.15

# Absorption ledger (VERDICT r6 #2): when a query absorbs formerly
# separate registrations as tagged rows (driver-window slot policy),
# its honest prior is the SUM of the prior times of itself plus the
# absorbed components — dividing by the absorber's own prior alone
# publishes a false regression flag the notes then have to retract
# (the r6 profile_welch_ttest 5.65x incident). The flag computation
# itself consults this map, so a fully-explained absorption can never
# surface in "regressions". Keys are absorbers; values are every
# query key the absorber has ever subsumed (stale components simply
# stop matching once they age out of the prior snapshot).
ABSORPTIONS: dict[str, list[str]] = {
    "profile_stats": [
        "profile_quantiles",
        "profile_correlation",
        "profile_weighted_quantile",
    ],
    "profile_histogram": ["profile_grouped_median"],
    "profile_welch_ttest": [
        "profile_mann_whitney",
        "profile_anova_oneway",
        "profile_spearman",
    ],
    "text_stats": ["text_quality_filter", "text_lang_fingerprint"],
    "events_funnel": ["events_cohort_retention", "events_interval_overlap"],
    "events_asof_join": ["events_range_join_count", "events_latest_state"],
    "events_pivot_daily_types": ["events_unpivot_daily"],
    "events_windows": ["events_window_quality", "events_gap_fill_linear"],
    "dates_normalize": ["dates_detect"],
    "outliers_detect": ["outliers_iqr"],
    "clean_nulls_impute_cat": ["clean_nulls_impute_median"],
    "cdc_merge_upsert": ["cdc_snapshot_diff"],
    "sql_orders_with_returns": [
        "sql_dormant_rich_customers",
        "sql_customer_distribution",
    ],
    "sql_market_share": ["sql_volume_shipping"],
    "sql_returned_item_ranking": ["sql_small_quantity_revenue"],
    "sql_excess_suppliers": [
        "sql_supplier_relationship",
        "sql_important_parts",
    ],
    "sql_shipmode_priority": ["sql_waiting_suppliers"],
    "pipeline_curate_documents": ["sample_stratified_exact"],
    "distinct_customers_per_priority": [
        "set_urgent_not_low_customers",
        "join_salted_orders_customer",
    ],
    "multimodal_decode": ["multimodal_wav_metadata"],
    "dedup_clusters": [
        "dedup_exact_content",
        "dedup_ngram_jaccard",
        "dedup_keep_best",
    ],
    "text_tfidf_topk": ["text_top_tokens"],
}


def absorbed_prior(prev: dict[str, float], name: str) -> float | None:
    """The honest prior for ``name``: its own prior-round time plus the
    prior times of every component it has absorbed (those still present
    in the snapshot). None when nothing prior exists — INCLUDING when
    the absorber itself has no prior (r9: dedup_clusters joined the
    headline by absorbing dedup_keep_best, and comparing its ~7s of
    work against the 0.655s component fragment alone published an 11x
    false flag; a component subset is never a comparable prior)."""
    if name not in prev or prev[name] <= 0:
        return None
    vals = [
        prev[p]
        for p in [name, *ABSORPTIONS.get(name, [])]
        if p in prev and prev[p] > 0
    ]
    return sum(vals) if vals else None

# One-line explanations for known timing movements (VERDICT r3 #7 asked
# for drift ratios under 1.15x OR an explanation here; written into
# BENCH_DETAIL.json so the judge sees them next to the numbers).
NOTES = {
    "_r10_optimization_round": (
        "r10 is the first OPTIMIZATION round: the big downward movers "
        "are deliberate plan work, documented per query in "
        "OPTIMIZATION_r10.md with before/after evidence and "
        "plans/r10/*_{before,after}.txt — headline items: "
        "stream_quality_score (staged hashed-feature pairs, dim x "
        "fewer interpreted md5s), profile_welch_ttest (shared spearman "
        "rank tables), dedup_clusters (checkpointed pair list, cheaper "
        "closure convergence check), sim_ann_recall_report "
        "(checkpointed ground truth), sim_semantic_dedup (staged "
        "assignment + pairs), features_scaled (fused scaler fits), "
        "features_huber_regression (OLS warm-start reuse), "
        "item-similarity/assoc-rules (skip redundant distinct), IRLS "
        "fits (staged per-pass weight columns)."
    ),
    "events_windows": (
        "r10 baseline read 1.47x vs the r9 prior with the plan and "
        "code untouched since r8 — isolated idle re-run reads 4.0s "
        "(1.02x). In-run contention artifact, not drift; the dominant "
        "branch is the absorbed gap_fill_daily hourly grid (users x "
        "fixture-timespan rows through one union + window pass, "
        "measured 5.2s of the query's cold cost)."
    ),
    "profile_bootstrap_ci": (
        "r10: flagged in BOTH the baseline headline (2.83s) and the "
        "final cold sweep (6.57s, end-of-run retry 8.59s) with code "
        "untouched since r5 — yet THREE isolated idle re-runs read "
        "1.25-1.43s warm (~1.0x the r9 prior), and the final warm "
        "headline itself reads 1.43s UNflagged in the same round. "
        "The elevation only reproduces inside long multi-query "
        "sessions: this operator is the sweep's most CPU-dense "
        "codegen stage (B=200 xxhash64 evaluations per row, ~20M "
        "hash calls in one stage), so accumulated-session JIT/GC "
        "state taxes it disproportionately. Session-state artifact, "
        "not plan drift — the plan (1 explode + map-side fold + "
        "bounded percentile) is unchanged and the isolated/warm "
        "numbers are the plan's honest cost. r11 (VERDICT r10 #4, "
        "option b): the end-of-run retry now runs min-of-3 AFTER an "
        "explicit JVM System.gc() + settle, so a pure session-state "
        "elevation is measured from a collected heap before it can "
        "flag; the weight-hash semantics (and hence the declared CI "
        "values) are unchanged. r11 baseline runs read 1.62s warm / "
        "~2.9s in-sweep, unflagged."
    ),
    "_aggregate_drift_r8_reconciliation": (
        "VERDICT r8 #1 CLOSED: the first-ever round-over-round "
        "aggregate drift (r8 warm headline 1.11-1.16x, cold sweep "
        "1.165x on the common set) was HOST CONDITIONS, not plan "
        "drift. Evidence: the r9 idle-host headline re-run (load avg "
        "0.10 at launch, zero concurrent Spark) on the SAME plans "
        "reads common-set aggregate 0.825x of the r8 driver prior "
        "(234.7 s vs 284.6 s over 166 shared queries, median vs_prev "
        "0.847, worst single query 1.38x, regressions: [], retried: "
        "{} — nothing crossed even the 1.5x publish-retry bar). A "
        "uniform ~17% reversal with untouched plans is the shared-"
        "host contention signature (the r4 'uniform 1.2-1.8x "
        "elevation across unrelated queries' precedent). The new "
        "aggregate_gate (flag at >1.15x common-set total) now "
        "catches any future uniform creep structurally."
    ),
    "sim_semantic_dedup": (
        "r7 cold-sweep flag RECONCILED r8 (VERDICT r7 #3) with the "
        "isolated idle-host min-of-3 posture: 30.2/27.0/24.3 s cold "
        "(fresh JVM per run, load avg ~1) — min 24.3 s vs the r6 "
        "sweep's 23.3 s, i.e. 1.04x. The r7 in-sweep 38.4 s (and its "
        "same-session retry) was sweep contention, not a plan change; "
        "the plan is unchanged and correctness-pinned."
    ),
    "pipeline_curate_v2": (
        "r7 cold-sweep flag RECONCILED r8 (VERDICT r7 #3), isolated "
        "idle-host min-of-3: 13.2/12.2/12.1 s truly-cold (fresh JVM, "
        "only lineitem warmed) with the stage split measured at ~6.9 s "
        "line-dedup+gopher+checkpoint / ~4.7 s score+mix — i.e. the "
        "in-sweep 'cold' numbers (r6 4.8 s, r7 9.0 s) are BOTH faster "
        "than true cold because 200 earlier queries warm the JIT/"
        "footer caches; their round-over-round movement is sweep-"
        "position/JIT-state variance, not plan drift (plan unchanged, "
        "warm min-of-2 1.075x, correctness-pinned)."
    ),
    "pipeline_quality_classifier": (
        "r7 capstone: the IRLS fit (8 Newton steps x ~4s plan-compile "
        "for the 17-feature weighted normal matrix — codegen cost, "
        "scale-independent) is a BUILD-ONCE artifact memoized per "
        "fixture (registry._quality_model, the trained-codebook "
        "posture); the cold full sweep pays it once, the warm min-of-2 "
        "and the stream_quality_score twin reuse it. The apply pass "
        "itself is a literal sigmoid — map-only."
    ),
    "stream_quality_score": (
        "shares the memoized quality-classifier fit with "
        "pipeline_quality_classifier (registry._quality_model); its "
        "own cost is the stateless append-mode stream pass."
    ),
    "pipeline_quality_remediation": (
        "r8 (VERDICT r7 #6): the isotonic remediation composed onto "
        "the classifier's measured calibration — one checkpointed "
        "scored pass + the bounded PAV fold + the broadcast interval "
        "apply; registered as its own key so the calibration report's "
        "bench prior stays comparable. Shares the memoized model fit."
    ),
    "sql_excess_suppliers": (
        "r9 absorbed sql_supplier_relationship (TPC-H Q16, ~1-2s: "
        "bridge join + single-column exact COUNT DISTINCT) as "
        "part='q16' tagged rows to free the driver-window slot "
        "features_linreg takes — compare vs_prev against the SUM of "
        "the two prior entries; combined work is unchanged, one "
        "registration fewer."
    ),
    "features_linreg": (
        "r9 PROMOTED to the oracle window as the regression family's "
        "hash-checkable member: the registered form switched from the "
        "numpy-solved bivariate fit to TWO closed-form single-feature "
        "exact-decimal OLS fits derived fully in SQL (same ONE "
        "lineitem scan, one aggregation — cost comparable; the "
        "multivariate normal-equations fit stays the library path "
        "with its own numpy/regr_* pins)."
    ),
    "dedup_clusters": (
        "r9 absorbed dedup_keep_best (~0.7s warm: the clone-pool "
        "build + max_by groupBy + semi join) as a tag='keep_best' "
        "summary row to free the driver-window slot "
        "pipeline_quality_serve takes, and JOINED the headline so the "
        "merged work stays gated. No warm vs_prev this round: the "
        "absorber itself was never in a headline snapshot (the "
        "full-sweep prior covers it — r9 cold 9.0s vs r8 cold 20.6s + "
        "keep_best 0.75s = 0.42x), and comparing ~7s of query against "
        "the 0.655s component fragment alone would publish a false "
        "11x flag — absorbed_prior now returns None when the absorber "
        "has no own prior (pinned in tests/test_bench_output.py)."
    ),
    "pipeline_quality_serve": (
        "new in r9 (VERDICT r8 #2): the classifier family's serve "
        "capstone under a frozen published reference model — one "
        "map-only scan of documents (per-row hashed features + a "
        "literal dot product) + one 20-group aggregate; no fit, no "
        "prior to compare against."
    ),
    "stream_ann_maintain": (
        "r9 (VERDICT r8 #4): the index builds FRESH per call (appends "
        "are not idempotent — a fixture memo would double-append under "
        "min-of-2), so every measurement pays base-index build + "
        "stream-append + report; at scale the index is durable and "
        "only the arriving batch pays. The model is read once and "
        "threaded through every micro-batch append."
    ),
    "dedup_spans_incremental": (
        "probes a fixture-memoized span index (write_span_index, built "
        "once per process — the persisted-index posture); the cold full "
        "sweep pays the build, warm runs pay only the batch probe."
    ),
    "sim_topk_ivfsq8": (
        "probes a fixture-memoized IVF-SQ8 index (built once per "
        "process); cold cost is the index write, warm is the pruned "
        "probe + rerank."
    ),
    "sim_topk_ivfpq_residual": (
        "probes a fixture-memoized residual IVF-PQ index (built once "
        "per process); cold cost is the staged residual encode, warm "
        "is the pruned ADC probe + rerank."
    ),
    "features_quantile_regression": (
        "three-tau pinball IRLS panel memoized per fixture (the "
        "trained-model posture): the cold sweep pays the ~30s "
        "iterations-x-agg fit once, warm runs read the cached bounded "
        "panel."
    ),
    "multimodal_decode": (
        "r5 flagged 0.80->6.76s (8.5x) with the plan and code unchanged "
        "since r4 — reconciled r6: isolated idle-host min-of-3 reads "
        "1.02s (1.28x, the residual being first-mapInPandas python-"
        "worker/Arrow spinup amortization). The r5 flag was a transient "
        "elevation WINDOW: the flagged queries sat at CONSECUTIVE "
        "headline positions (text_clean_normalize, profile_histogram2d, "
        "multimodal_decode, profile_heavy_hitters_cms), so min-of-2's "
        "back-to-back runs both landed inside the same burst. bench.py "
        "now re-times provisional flags at end-of-run (decorrelated), "
        "which defeats this failure mode structurally."
    ),
    "profile_heavy_hitters_cms": (
        "r5 flagged 0.74->2.40s (3.2x), code untouched — reconciled r6: "
        "isolated idle-host min-of-3 reads 0.85s (1.14x). Part of the "
        "same consecutive-position elevation window as multimodal_decode "
        "(see that note); covered by the end-of-run retry."
    ),
    "text_clean_normalize": (
        "r5 flagged 0.47->1.19s (2.5x), code untouched — reconciled r6: "
        "isolated idle-host min-of-3 reads 0.46s (0.99x). Same "
        "consecutive-position elevation window (see multimodal_decode); "
        "covered by the end-of-run retry."
    ),
    "profile_corr_matrix": (
        "plan unchanged all round; late-r4 full-run elevation (1.8s, "
        "2.1x) does not reproduce in isolation (idle min-of-3: 1.17s, "
        "first cold call 7.9s is Janino compile of the wide multi-agg) "
        "— sequence noise from the 81-query run's JIT/GC pressure, "
        "not drift."
    ),
    "events_funnel": (
        "r5 absorbed events_cohort_retention (the weekly retention "
        "triangle, ~0.5s) into this query as part='cohort' tagged rows "
        "to free a driver-window slot — compare vs_prev against the "
        "SUM of the two prior entries; combined work is unchanged, one "
        "registration fewer. (History: the r2->r3 step was the hot-key "
        "cap turning default-on, ~0.3s of in-exchange sort.)"
    ),
    "text_stats": (
        "r4w3 absorbed the Gopher rule-gate columns (formerly the "
        "separate text_quality_filter query, ~0.8s of line-split + "
        "ratio expressions) into this query to free a driver-window "
        "slot; r6 additionally absorbed text_lang_fingerprint "
        "(marker-word language ID + content/shingle fingerprints, "
        "~1.1s, same single documents scan) — compare vs_prev against "
        "the SUM of the prior text_stats + text_lang_fingerprint "
        "entries; combined work is unchanged, one registration fewer."
    ),
    "profile_welch_ttest": (
        "r6 absorbed profile_mann_whitney (~0.8s) and "
        "profile_anova_oneway (~0.5s) as test-tagged rows to free two "
        "driver-window slots — compare vs_prev against the SUM of the "
        "three prior entries; combined work is unchanged, two "
        "registrations fewer."
    ),
    "events_asof_join": (
        "r6 absorbed events_range_join_count (~0.9s) as part='range' "
        "tagged rows to free a driver-window slot — compare vs_prev "
        "against the SUM of the two prior entries. (History: the "
        "r3-reported 1.27x was host noise; idle min-of-3 at r4 "
        "reproduced r3 exactly.)"
    ),
    "profile_histogram": (
        "r4 absorbed profile_grouped_median (two exact interpolated "
        "per-group percentiles over lineitem, ~0.8s) into this query "
        "to free a driver-window slot — the vs_prev ratio compares the "
        "merged query against the histogram alone; combined work is "
        "unchanged, one registration fewer."
    ),
    "profile_entropy": (
        "plan unchanged all round (nothing touched column_entropy in "
        "r5); r4 recorded 0.36s, r5 isolated warm min-of-3 reads "
        "0.79s — ~0.4s absolute movement on a sub-second query is "
        "scheduler/JIT-sequence territory (the profile_histogram2d "
        "precedent), not drift."
    ),
    "analytics_copurchase_pairs": (
        "r5: the five graph queries now share a session-memoized "
        "co-purchase pair index (build-once posture, keyed by fixture "
        "mtime + params) — whichever family member runs FIRST per "
        "param set pays the build + memo write (~3s extra here), and "
        "triangles/bfs/pagerank read it back (4.9s -> ~1.2s, 8.6s -> "
        "~1.8s). Compare the family total, not this entry."
    ),
    "analytics_triangles": (
        "r5: reads the memoized co-purchase pair index (see "
        "analytics_copurchase_pairs) — expect well under prior."
    ),
    "analytics_pagerank": (
        "first benched in r5 (VERDICT #5: the iterative family needed "
        "a tracked number beyond bfs_hops) — 6 decimal-deterministic "
        "power iterations over the sf0.1 co-purchase graph, rank table "
        "checkpointed per iteration; no prior to compare against."
    ),
    "analytics_bfs_hops": (
        "r5 switched the per-hop frontier boundary from parquet "
        "round-trips to localCheckpoint (VERDICT #5; edges stay "
        "parquet, local==parquet equality pinned in tests/test_bfs.py) "
        "— expect vs_prev under 1."
    ),
    "profile_bootstrap_ci": (
        "r5 switched the registered weight hash from md5 (string "
        "concat + hex + base-16 BigInt parse per (row, replicate)) to "
        "JVM-native xxhash64 — same Poisson-bootstrap semantics "
        "(pinned both paths in tests/test_stattests.py), ~2x less "
        "per-row CPU; expect vs_prev well under 1."
    ),
    "outliers_detect": (
        "r5 absorbed outliers_iqr (Tukey-fence counts over the five "
        "lineitem numeric columns, ~1.2s of exact-quartile fits) as "
        "method='iqr' tagged rows to free a driver-window slot — "
        "compare vs_prev against the sum of the two prior entries."
    ),
    "clean_nulls_impute_cat": (
        "r5 absorbed clean_nulls_impute_median (~0.7s) as "
        "strategy='median' tagged rows to free a driver-window slot — "
        "compare vs_prev against the sum of the two prior entries."
    ),
    "cdc_merge_upsert": (
        "r5 absorbed cdc_snapshot_diff (full-outer snapshot "
        "reconciliation, ~1.0s) as part='snapshot_diff' tagged rows to "
        "free a driver-window slot — compare vs_prev against the sum "
        "of the two prior entries."
    ),
    "sql_orders_with_returns": (
        "r5 absorbed sql_dormant_rich_customers (TPC-H Q22 shape, "
        "~0.7s) as part='dormant_rich' tagged rows to free a "
        "driver-window slot — compare vs_prev against the sum of the "
        "two prior entries."
    ),
    "sim_topk_cosine": (
        "plan and code unchanged all round (r6 touched only the SQ8 "
        "sibling); 0.55 -> 0.83s is a +0.28s absolute movement on a "
        "sub-second query — scheduler/sequence territory (the "
        "profile_histogram2d precedent), and isolated reruns bounce "
        "0.83-1.06s on this host. Under the 2x gate; not drift."
    ),
    "profile_set_overlap": (
        "r6 added the KMV/theta-sketch method row (two TakeOrdered "
        "sketches + bounded-row arithmetic) next to the HLL "
        "inclusion-exclusion row — a second estimation pass by "
        "design; compare vs_prev with that addition in mind."
    ),
    "sim_ann_recall_report": (
        "r6 added the int8 SQ8 rung's measured-recall row to this "
        "report (a third approximate method scored against the same "
        "brute-force ground truth over 8 queries) — the extra "
        "encode-checkpoint + unrolled-probe + rerank pass adds ~2-3.5s "
        "by design (sim_topk_sq8 alone is ~1.5-2.5s over 3 queries); "
        "compare vs_prev with that addition in mind."
    ),
    "sim_topk_pq": (
        "plan unchanged since r3; isolated idle-host min-of-3 "
        "reproduces r3 (2.27s vs 2.21s) — full-run elevations on the "
        "ANN queries are sequence noise, not plan drift."
    ),
    "profile_histogram2d": (
        "plan unchanged; sub-second query (0.26s prev, 0.47s isolated "
        "min-of-3) — absolute movement ~0.2s, scheduler noise "
        "territory at this magnitude."
    ),
    "events_windows": (
        "plan unchanged; the final r4 snapshot ran under host load-avg "
        "~4 from OUTSIDE this session (no local process visible) — "
        "isolated min-of-3 reproduces the same ~1.2-1.8x elevation "
        "uniformly across unrelated sub-2s queries (sim_topk_cosine, "
        "tfidf, sessionize), the signature of external contention, not "
        "drift. The driver's own run is authoritative."
    ),
    "events_sessionize": ("see events_windows — same shared-host note."),
    "sample_mix_temperature": (
        "see events_windows — same shared-host note."
    ),
    "decontaminate_fuzzy": (
        "plan unchanged all round; isolated min-of-3 3.0s vs prev "
        "2.4s (1.26x) with the 107-query run reporting the same — "
        "within host variance for a shuffle-heavy query; no source "
        "change touched this path in the second r4 wave."
    ),
}


def prior_round_times() -> tuple[dict[str, float], float]:
    """(per-query times, scale factor) of the PREVIOUS round from ONE
    read: BENCH_PREV.json (committed snapshot, refreshed at round
    start) first, else the newest legacy BENCH_r*.json that still
    carries a full "queries" map. Legacy files predate the sf field;
    every recorded round ran at the driver's sf0.1, which is what their
    missing sf defaults to."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    snap = os.path.join(here, "BENCH_PREV.json")
    if os.path.exists(snap):
        try:
            with open(snap) as f:
                doc = json.load(f)
            q = doc.get("queries", {})
            if q:
                return dict(q), doc.get("sf", 0.1)
        except Exception:
            pass
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    for _, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                doc = json.load(f)
            if isinstance(doc, dict) and "queries" in doc:
                return dict(doc["queries"]), doc.get("sf", 0.1)
            # driver files wrap the bench line in a bounded stdout tail;
            # recover the line only if its head survived the window
            text = doc.get("tail", "") if isinstance(doc, dict) else ""
            idx = text.rfind('{"metric"')
            if idx >= 0:
                line = json.loads(text[idx:].split("\n")[0])
                q = line.get("queries", {})
                if q:
                    return dict(q), line.get("sf", 0.1)
        except Exception:
            continue
    return {}, 0.1


def flag_names(times: dict[str, float], prev: dict[str, float]) -> list[str]:
    """Per-query regression flags: >2x the absorption-aware prior AND
    (>1s absolute movement OR >4x ratio — the hard-ratio bypass of the
    sub-second floor, ADVICE r8)."""
    out = []
    for n, t in times.items():
        p = absorbed_prior(prev, n)
        if p is None:
            continue
        ratio = t / p
        if ratio > REGRESSION_RATIO and (
            t - p > FLAG_ABS_FLOOR_SEC or ratio > FLAG_HARD_RATIO
        ):
            out.append(n)
    return sorted(out)


def retry_names(times: dict[str, float], prev: dict[str, float]) -> list[str]:
    """End-of-run decorrelated re-time set: every provisional flag PLUS
    any query whose published vs_prev would exceed PUBLISH_RETRY_RATIO
    (VERDICT r8 #5 — no committed artifact carries an un-reconciled
    1.5-2x ratio)."""
    out = set(flag_names(times, prev))
    for n, t in times.items():
        p = absorbed_prior(prev, n)
        if p is not None and t / p > PUBLISH_RETRY_RATIO:
            out.add(n)
    return sorted(out)


def aggregate_gate(
    times: dict[str, float], prev: dict[str, float]
) -> dict | None:
    """COMMON-SET total vs the absorption-aware prior total (VERDICT
    r8 #1): the drift the per-query gate cannot see. None when no
    queries share a prior."""
    tot = prior_tot = 0.0
    n = 0
    for name, t in times.items():
        p = absorbed_prior(prev, name)
        if p is not None:
            tot += t
            prior_tot += p
            n += 1
    if prior_tot <= 0:
        return None
    ratio = round(tot / prior_tot, 3)
    return {
        "n_common": n,
        "common_total": round(tot, 3),
        "prior_total": round(prior_tot, 3),
        "ratio": ratio,
        "flagged": ratio > AGGREGATE_RATIO,
        "gate": AGGREGATE_RATIO,
    }


def materialize(df) -> None:
    """Force full computation without collecting rows to the driver.

    noop write, not count(): count() lets Catalyst prune the aggregate
    expressions of single-row agg queries (a global agg needs no columns
    to answer count), under-measuring them by 10x.
    """
    df.write.mode("overwrite").format("noop").save()


def prior_full_times(
    exclude_round: int | None = None,
) -> tuple[dict[str, float], float]:
    """Prior FULL-sweep per-query times: the newest committed
    BENCH_FULL_r{N}.json (these carry the cold one-time build costs —
    k-means codebooks, ER indexes — the warm headline gate never sees,
    so they get their own round-over-round prior).

    ``exclude_round`` is the IN-FLIGHT round number: any committed sweep
    from that round (or later) is skipped so a re-run within a round can
    never self-compare against its own earlier sweep — vs_prev must
    always measure round-over-round movement, not intra-round noise
    (VERDICT r7: a 43cd40b re-run silently compared against the same
    round's first sweep)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_FULL_r*.json")):
        m = re.search(r"BENCH_FULL_r(\d+)\.json$", p)
        if m and (exclude_round is None or int(m.group(1)) < exclude_round):
            rounds.append((int(m.group(1)), p))
    for _, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                doc = json.load(f)
            if isinstance(doc, dict) and doc.get("queries"):
                return dict(doc["queries"]), doc.get("sf", 0.1)
        except Exception:
            continue
    return {}, 0.1


def run_full(out_path: str) -> None:
    """FULL sweep (VERDICT r5 #10, gated per VERDICT r6 #3): time EVERY
    registered query once, cold (single shot == cold for the memoized
    index/codebook builds — that's the point: one-time build costs the
    warm headline gate hides get their own regression gate here).
    Includes the streaming twins and other registered-unbenched queries
    the headline set excludes. vs_prev compares against the newest
    committed BENCH_FULL_r{N}.json with the same absorption-aware prior
    and >2x flag/end-of-run-retry logic as the headline gate."""
    # the round number embedded in the filename drives exclude_round —
    # a nonstandard name would silently revert to intra-round
    # self-comparison (ADVICE r8): fail loudly instead
    import re as _re

    m = _re.search(r"BENCH_FULL_r(\d+)\.json$", os.path.basename(out_path))
    if not m:
        raise SystemExit(
            "run_full: output filename must match BENCH_FULL_r{N}.json "
            "(the round number selects the prior sweep to compare "
            f"against); got {out_path!r}"
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_hero_spark.registry import REGISTRY, _load_extensions
    from etl_hero_spark.session import get_spark

    _load_extensions()
    spark = get_spark("etl-hero-bench-full")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def timed(name: str) -> float:
        t0 = time.perf_counter()
        materialize(REGISTRY[name].spark(spark, sf_dir))
        return round(time.perf_counter() - t0, 3)

    times: dict[str, float] = {}
    for name in REGISTRY:
        times[name] = timed(name)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # the round being written (parsed from the output name) is excluded
    # from the prior glob — a re-run never self-compares (VERDICT r7 #2)
    prev, prev_sf = prior_full_times(exclude_round=int(m.group(1)))
    if sf_val != prev_sf:
        prev = {}

    # end-of-run decorrelated retry: provisional flags PLUS any query
    # whose published vs_prev would exceed 1.5x (VERDICT r8 #5); NOTE
    # the memoized builds are warm by now, so a retry that collapses to
    # the warm time proves the flag was the build, not the plan — keep
    # the min and let vs_prev show it. VERDICT r10 #4: the retry is
    # min-of-3 after an explicit JVM GC + settle — a session-state
    # artifact (accumulated JIT/GC pressure taxing one CPU-dense
    # codegen stage, the profile_bootstrap_ci signature) must not be
    # able to flag the same untouched query two rounds running.
    retried: dict[str, float] = {}
    retry_list = retry_names(times, prev)
    if retry_list:
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
    for name in retry_list:
        retried[name] = min(timed(name) for _ in range(3))
        times[name] = min(times[name], retried[name])
    vs_prev = {}
    for n, t in times.items():
        p = absorbed_prior(prev, n)
        if p is not None:
            vs_prev[n] = round(t / p, 3)
    regressions = flag_names(times, prev)
    aggregate = aggregate_gate(times, prev)
    with open(out_path, "w") as f:
        json.dump(
            {
                "metric": "all_registered_queries_total",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(times),
                "note": (
                    "single-shot (cold) sweep of every registered query "
                    "(incl. streaming twins) so none has zero recorded "
                    "cost and one-time build costs are regression-gated "
                    "round-over-round; vs_prev is absorption-aware vs "
                    "the newest committed BENCH_FULL_r{N}.json; "
                    "provisional >2x flags AND any vs_prev>1.5x "
                    "re-time once at end-of-run (see 'retried' — a "
                    "retry collapsing to the warm time means the "
                    "movement was the memoized build); 'aggregate' is "
                    "the common-set drift gate (flagged when the "
                    "total exceeds 1.15x the prior total)"
                ),
                "queries": times,
                "vs_prev": vs_prev,
                "regressions": regressions,
                "retried": retried,
                "aggregate": aggregate,
            },
            f,
            indent=1,
        )
        f.write("\n")
    print(
        json.dumps(
            {
                "metric": "all_registered_queries_total",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "n_queries": len(times),
                "regressions": regressions,
                "agg_vs_prev": aggregate["ratio"] if aggregate else None,
                "agg_flagged": aggregate["flagged"] if aggregate else False,
                "detail": out_path,
            }
        )
    )
    spark.stop()


def main() -> None:
    if "--full" in sys.argv:
        idx = sys.argv.index("--full")
        out = (
            sys.argv[idx + 1]
            if len(sys.argv) > idx + 1
            else "BENCH_FULL.json"
        )
        run_full(out)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_hero_spark.registry import REGISTRY, _load_extensions
    from etl_hero_spark.session import get_spark

    _load_extensions()

    spark = get_spark("etl-hero-bench")
    # warm the JVM + parquet footers once so per-query times measure the
    # plan, not session startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # min of two runs per query: single-machine driver contention bounces
    # one-shot timings 2-4x; the min is the honest plan cost (run-to-run
    # the plan is identical — the variance is host noise, not the query)
    def timed(name: str, reps: int = 2) -> float:
        spec = REGISTRY.get(name)
        if spec is None:
            return float("nan")
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            materialize(spec.spark(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    times: dict[str, float] = {}
    for name in HEADLINE:
        t = timed(name)
        if t == t:  # skip unregistered (NaN)
            times[name] = t

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # vs_prev only means something at the snapshot's own scale factor —
    # a local sf0.001 iteration run must not trip (or hide) regressions
    # measured against the driver's sf0.1 prior round
    prev, prev_sf = prior_round_times()
    if sf_val != prev_sf:
        prev = {}

    # Variance-proofing (VERDICT r5 #2): min-of-2 alone cannot defeat a
    # transient elevation WINDOW — the r5 flags hit four CONSECUTIVE
    # headline positions, so both back-to-back runs sat inside the same
    # contention/GC burst. Re-time at the END of the run (temporally
    # decorrelated from sequence position) every provisionally-flagged
    # query PLUS any query whose published vs_prev would exceed 1.5x
    # (VERDICT r8 #5 — min-of-3+ before any 1.5-2x ratio is committed)
    # and keep the overall min; only surviving flags are real.
    # VERDICT r10 #4: the retry now runs after an explicit JVM GC +
    # settle and takes min-of-3 (timed() is min-of-2, so 6 shots) — a
    # session-state artifact (accumulated JIT/GC pressure taxing one
    # CPU-dense codegen stage, the profile_bootstrap_ci signature)
    # must not be able to flag an untouched query two rounds running.
    retried: dict[str, float] = {}
    retry_list = retry_names(times, prev)
    if retry_list:
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
    for name in retry_list:
        retried[name] = min(timed(name) for _ in range(3))
        times[name] = min(times[name], retried[name])
    vs_prev = {}
    for n, t in times.items():
        p = absorbed_prior(prev, n)
        if p is not None:
            vs_prev[n] = round(t / p, 3)
    regressions = flag_names(times, prev)
    aggregate = aggregate_gate(times, prev)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "sf": sf_val,
                "queries": times,
                "vs_prev": vs_prev,
                "regressions": regressions,
                "retried": retried,
                "aggregate": aggregate,
                "timing": (
                    "per-query min-of-2 in sequence; any query provisionally "
                    ">2x its prior OR >1.5x its prior (the publish-retry "
                    "bar) is re-timed min-of-2 at end-of-run "
                    "(decorrelated from its sequence position) and the "
                    "overall min kept — see 'retried' for the second "
                    "measurements. vs_prev and the flag gate are "
                    "absorption-aware: an absorber's prior is the SUM of "
                    "its own prior plus its absorbed components' priors "
                    "(see ABSORPTIONS in bench.py), so explained merges "
                    "never surface as regressions. 'aggregate' is the "
                    "common-set drift gate: flagged when the total over "
                    "queries sharing a prior exceeds 1.15x the prior "
                    "total (uniform creep the per-query gate cannot see)"
                ),
                "notes": NOTES,
            },
            f,
            indent=1,
        )
        f.write("\n")
    # ONE compact final line — must fit the driver's bounded stdout tail
    # (2000 chars; the round-3 full-map line overflowed it). VERDICT
    # r10 #2: the line now ALSO carries the largest-cost-first
    # per-query subset that fits the window (queries_for_line), so the
    # driver's PERF comparator can compute per-query statuses; the
    # complete 171-name map remains in BENCH_DETAIL.json.
    final_obj = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(times),
        "regressions": regressions,
        "agg_vs_prev": aggregate["ratio"] if aggregate else None,
        "agg_flagged": aggregate["flagged"] if aggregate else False,
        "detail": "BENCH_DETAIL.json",
    }
    final_obj["queries"] = queries_for_line(times, final_obj)
    print(json.dumps(final_obj, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
