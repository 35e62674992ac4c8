"""Benchmark harness: times registered queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixture directory) on local[$SPARK_GRAFT_CPUS].

    python bench.py                               # HEADLINE, min-of-2 each
    python bench.py --full BENCH_FULL_r{N}.json   # every query, one shot

Each query is materialized with a noop-format write (full compute, no
driver-side result transfer — the honest cost of the plan). Both modes
run the same loop (``run``): time every query, re-time at end of run any
query that looks slower than its prior, gate the result against the
prior per query and in aggregate, write the full per-query map to a
detail file (BENCH_DETAIL.json next to this file for the headline, the
given path for --full) and print ONE compact JSON line:
{"metric", "value", "unit", "sf", "n_queries", "regressions",
"agg_vs_prev", "agg_flagged", "detail", "queries"}. The line is read
from a bounded stdout tail, so "queries" carries only the
largest-cost-first subset that fits it.

Priors: the headline compares against BENCH_PREV.json (a committed
snapshot of the previous round, refreshed at round start), else the
newest BENCH_r{N}.json that carries a per-query map; --full compares
against the newest committed BENCH_FULL_r{N}.json of an EARLIER round
than the one being written. Totals across rounds mix different query
sets, so the per-query ratio vs_prev is the comparison that means
something.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

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

# The line is read from a BOUNDED stdout tail (2000 chars; round 3's full
# per-query line overflowed it: parsed=null). A full 171-name map is
# ~5 KB, so the line carries the LARGEST-COST-FIRST subset that keeps the
# whole line under the window (names exact, seconds rounded to 2dp); the
# complete map stays in the detail file.
LINE_BUDGET_CHARS = 1900  # 2000-char window minus newline + jitter headroom


def queries_for_line(
    times: dict[str, float], base_obj: dict, budget: int = LINE_BUDGET_CHARS
) -> dict[str, float]:
    """The largest-cost-first per-query prefix whose inclusion keeps the
    compact-serialized final line within ``budget`` chars. Ordered by
    (-seconds, name) and cut at the first query that does not fit, so
    no cheaper query ever appears while a costlier one is left out."""
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
# query pays ~0.3-0.5s of fixed per-job overhead, so a 0.5s query
# "doubling" to 1.1s under host jitter carries no plan signal while a
# 5s -> 11s move always does. vs_prev still records every ratio.
FLAG_ABS_FLOOR_SEC = 1.0

# ...EXCEPT at extreme ratios: a sub-second query can sit under the
# absolute floor forever, so past this ratio the floor no longer
# suppresses the flag (the end-of-run retry still kills pure jitter).
FLAG_HARD_RATIO = 4.0

# Any query whose PUBLISHED vs_prev would exceed this is re-timed at end
# of run even when it is not a provisional flag: single-shot numbers
# move up to 1.6x between runs of identical code, so no artifact should
# carry a 1.5-2x ratio that one more decorrelated measurement could
# have collapsed.
PUBLISH_RETRY_RATIO = 1.5

# Aggregate drift gate: the per-query gate is blind to a uniform ~15%
# creep (every ratio under 2x, total up 16%). The COMMON-SET total
# (queries sharing an absorption-aware prior) must stay within this
# ratio of the prior total.
AGGREGATE_RATIO = 1.15

# Absorption ledger: when a query absorbs formerly separate
# registrations as tagged rows, its honest prior is the SUM of the prior
# times of itself plus the absorbed components — its own prior alone
# would publish a false regression flag. Keys are absorbers; values are
# every query key the absorber has ever subsumed (stale components stop
# matching once they age out of the prior snapshot).
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
    the absorber itself has no prior (a component subset is never a
    comparable prior: comparing dedup_clusters' ~7s of work against the
    0.655s dedup_keep_best fragment alone published an 11x false flag)."""
    if name not in prev or prev[name] <= 0:
        return None
    vals = [
        prev[p]
        for p in [name, *ABSORPTIONS.get(name, [])]
        if p in prev and prev[p] > 0
    ]
    return sum(vals) if vals else None


def round_files(prefix: str, before: int | None = None) -> list[str]:
    """Committed ``{prefix}{N}.json`` files next to this script, newest
    round first, leaving out round ``before`` and any later one."""
    rounds = []
    for p in glob.glob(os.path.join(HERE, f"{prefix}*.json")):
        m = re.search(rf"{prefix}(\d+)\.json$", p)
        if m and (before is None or int(m.group(1)) < before):
            rounds.append((int(m.group(1)), p))
    return [p for _, p in sorted(rounds, reverse=True)]


def prior_times(paths: list[str]) -> tuple[dict[str, float], float]:
    """(per-query times, scale factor) from the first of ``paths`` that
    carries a non-empty "queries" map, either at top level or in the
    bench line inside a round file's recorded stdout "tail" (recovered
    only if the line's head survived the window). Files that predate the
    sf field ran at sf0.1."""
    for path in paths:
        try:
            with open(path) as f:
                doc = json.load(f)
            if not doc.get("queries"):
                text = doc.get("tail", "")
                idx = text.rfind('{"metric"')
                doc = json.loads(text[idx:].split("\n")[0]) if idx >= 0 else {}
            if doc.get("queries"):
                return dict(doc["queries"]), doc.get("sf", 0.1)
        except (OSError, ValueError, TypeError, AttributeError):
            continue
    return {}, 0.1


def flag_names(times: dict[str, float], prev: dict[str, float]) -> list[str]:
    """Per-query regression flags: >2x the absorption-aware prior AND
    (>1s absolute movement OR >4x ratio)."""
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
    """End-of-run re-time set: every provisional flag PLUS any query
    whose published vs_prev would exceed PUBLISH_RETRY_RATIO."""
    out = set(flag_names(times, prev))
    for n, t in times.items():
        p = absorbed_prior(prev, n)
        if p is not None and t / p > PUBLISH_RETRY_RATIO:
            out.add(n)
    return sorted(out)


def aggregate_gate(
    times: dict[str, float], prev: dict[str, float]
) -> dict | None:
    """COMMON-SET total vs the absorption-aware prior total: the drift
    the per-query gate cannot see. None when no queries share a prior."""
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


def run(
    names: list[str],
    reps: int,
    prev: tuple[dict[str, float], float],
    metric: str,
    out_path: str,
) -> None:
    """Time every registered query in ``names`` (min of ``reps`` shots
    each), gate against ``prev`` = (per-query prior, its sf), write the
    full result to ``out_path`` and print the one-line summary."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_hero_spark.registry import REGISTRY, _load_extensions
    from etl_hero_spark.session import get_spark

    _load_extensions()
    spark = get_spark("etl-hero-bench")
    # warm the JVM + parquet footers once so per-query times measure the
    # plan, not session startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # min of several shots: host contention bounces one-shot timings
    # 2-4x while the plan is identical run to run. A single shot of a
    # memoized build (k-means codebooks, ER indexes) is its cold cost.
    def timed(name: str) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            materialize(REGISTRY[name].spark(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    times = {name: timed(name) for name in names if name in REGISTRY}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # vs_prev only means something at the prior's own scale factor — a
    # local sf0.001 run must not trip (or hide) regressions measured
    # against an sf0.1 prior
    prior = prev[0] if prev[1] == sf_val else {}

    # Re-time at the END of the run (decorrelated from sequence position:
    # back-to-back shots can both sit inside one contention/GC burst)
    # every query that would flag or publish vs_prev > 1.5x, min-of-3
    # after an explicit JVM GC + settle, and keep the overall min. When
    # a memoized build is warm by now, a retry that collapses to the warm
    # time shows the movement was the build, not the plan.
    retried: dict[str, float] = {}
    retry_list = retry_names(times, prior)
    if retry_list:
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
    for name in retry_list:
        retried[name] = min(timed(name) for _ in range(3))
        times[name] = min(times[name], retried[name])
    vs_prev = {}
    for n, t in times.items():
        p = absorbed_prior(prior, n)
        if p is not None:
            vs_prev[n] = round(t / p, 3)
    regressions = flag_names(times, prior)
    aggregate = aggregate_gate(times, prior)
    summary = {
        "metric": metric,
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(times),
    }
    with open(out_path, "w") as f:
        json.dump(
            {
                **summary,
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
    line = {
        **summary,
        "regressions": regressions,
        "agg_vs_prev": aggregate["ratio"] if aggregate else None,
        "agg_flagged": aggregate["flagged"] if aggregate else False,
        "detail": os.path.basename(out_path),
    }
    line["queries"] = queries_for_line(times, line)
    print(json.dumps(line, separators=(",", ":")))
    spark.stop()


def main() -> None:
    argv = sys.argv[1:]
    if "--full" not in argv:
        run(
            HEADLINE,
            2,
            prior_times(
                [os.path.join(HERE, "BENCH_PREV.json"), *round_files("BENCH_r")]
            ),
            "headline_queries_total",
            os.path.join(HERE, "BENCH_DETAIL.json"),
        )
        return
    idx = argv.index("--full")
    out = argv[idx + 1] if len(argv) > idx + 1 else "BENCH_FULL.json"
    # the round number in the filename selects the prior sweep, so that a
    # re-run within a round never compares against its own earlier sweep:
    # a nonstandard name must fail loudly, before Spark starts
    m = re.search(r"BENCH_FULL_r(\d+)\.json$", os.path.basename(out))
    if not m:
        raise SystemExit(
            "bench.py --full: output filename must match BENCH_FULL_r{N}.json "
            "(the round number selects the prior sweep to compare "
            f"against); got {out!r}"
        )
    from etl_hero_spark.registry import REGISTRY, _load_extensions

    _load_extensions()
    run(
        list(REGISTRY),
        1,
        prior_times(round_files("BENCH_FULL_r", before=int(m.group(1)))),
        "all_registered_queries_total",
        out,
    )


if __name__ == "__main__":
    main()
