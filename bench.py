"""Benchmark harness.

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.  Stdout ends with ONE compact JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec",
     "n_queries": N, "queries": {qNN: sec, ... top-20 slowest},
     "detail_file": ..., "sf": ...}
The full per-query record (all timings, per-table data stats,
canaries, core count, engine versions) is written to
``BENCH_DETAIL_sf{label}.json`` in the repo root: one record per scale.

Each query is timed to its complete result: ``force`` writes it to a
``noop`` sink, so every output column is computed (a ``.count()`` lets
Catalyst prune aggregate expressions and undercounts).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family — scan/clean, agg, join+agg,
# window, merge, topk, json, text, dedup (exact + ngram), ANN, as-of,
# plus the streaming/maintenance operators (corpus ingest, stream-stream
# attribution, incremental rollup) and the sideways-info-passing /
# diff operators (bloom semi-join, table diff) so their cost is
# tracked record over record.
HEADLINE = [
    "q01_pricing_summary",
    "q05_clean_contract",
    "q06_merge_upsert",
    "q07_revenue_by_nation",
    "q08_hourly_demand",
    "q09_top_event_per_user",
    "q12_json_path_stats",
    "q13_exact_dedup",
    "q17_ngram_jaccard_dedup",
    "q19_ann_cosine_topk",
    "q24_asof_join",
    "q25_order_revenue_topk",
    "q31_cube_rollup",
    "q36_sessionization",
    "q40_tfidf_top_terms",
    "q41_chunk_documents",
    "q54_regional_revenue",
    "q59_range_band_join",
    "q60_exists_priority",
    "q62_gap_fill_hourly",
    "q63_grouping_sets",
    "q66_trailing_range_window",
    "q68_grouped_regression",
    "q87_large_orders",
    "q88_waiting_suppliers",
    "q89_volume_shipping",
    "q104_streaming_corpus_ingest",
    "q107_salted_join",
    "q108_stream_attribution",
    "q109_pagerank",
    "q110_quality_terciles",
    "q111_grouped_topk",
    "q112_session_busy_overlap",
    "q113_ewma_user_score",
    "q114_incremental_rollup",
    "q115_recursive_hierarchy",
    "q116_domain_cap",
    "q117_bloom_semi_join",
    "q118_table_diff",
    "q119_ewma_segmented",
    "q120_heavy_hitters",
    "q121_table_checksum",
    "q122_triangle_count",
    "q123_scd2_history",
    "q124_binned_quantiles",
    "q125_cdc_apply",
    "q126_streaming_sessions",
    "q127_point_in_time_join",
    "q128_event_throttle",
    "q129_listagg_top_customers",
    "q130_streaming_dedup",
    "q131_data_quality",
    "q132_twap",
    "q133_ohlc_bars",
    "q134_rolling_wau",
    "q135_bucketed_join",
    "q136_key_skew_profile",
    "q137_order_reconciliation",
    "q138_winsorized_mean",
    "q139_grouped_mode",
    "q140_last_n_features",
    "q141_throttle_segmented",
    "q142_kmeans_clusters",
    "q143_incremental_view_maintenance",
    "q144_asof_directions",
    "q145_schema_evolution",
    "q146_record_linkage",
    "q147_hll_distinct",
    "q148_leakage_safe_split",
    "q149_quality_canonical_dedup",
    "q150_snapshot_time_travel",
    "q151_temperature_mixture",
    "q152_grouped_percentiles",
    "q153_prefix_filter_simjoin",
    "q154_frequent_pairs",
    "q155_skyline",
    "q156_weighted_median",
    "q157_pps_sample",
    "q158_entropy_profile",
    "q159_hll_daily_rollup",
    "q160_count_min_sketch",
    "q161_hourly_autocorr",
    "q162_bfs_reach",
    "q163_kmv_overlap",
    "q164_chi_square",
    "q165_stream_outer_attribution",
    "q166_lm_quality",
    "q167_kcore",
    "q168_mad_outliers",
    "q169_correlation_matrix",
    "q170_markov_transitions",
    "q171_benford_audit",
    "q172_top_session_paths",
    "q173_credit_ledger",
    "q174_naive_bayes",
    "q175_containment_excerpts",
    "q176_interpolated_gaps",
    "q177_rolling_correlation",
    "q178_pareto_abc",
    "q179_growth_accounting",
    "q180_kwic",
    "q181_backtest_mape",
    "q182_personalized_pagerank",
    "q183_frequent_triples",
    "q184_sliding_hll_distinct",
    "q185_deterministic_shuffle",
    "q186_bigram_nll",
    "q187_mixture_interleave",
    "q188_duplicate_spans",
    "q189_dsir_importance",
    "q190_hits",
    "q191_label_propagation",
    "q192_semdedup",
    "q193_corpus_gates",
    "q194_winnow_fingerprints",
    "q195_bm25_rrf_fusion",
    "q196_luhn_pii_audit",
    "q197_phash_near_dupes",
    "q198_degree_assortativity",
    "q199_vocab_oov",
    "q200_streaming_semantic_dedup",
    "q201_sq8_quantization_recall",
    "q202_bpe_merge_table",
    "q203_bpe_segmentation",
    "q204_hard_negatives",
    "q205_kcenter_coreset",
    "q206_stratified_quota_split",
    "q207_kmeans_separation",
    "q208_markov_transitions",
    "q209_fd_profile",
    "q210_retrieval_eval",
    "q211_length_bucket_padding",
    "q212_holt_forecast",
    "q213_cusum_changepoints",
    "q214_rfm_segments",
    "q215_survival_curve",
    "q216_ra_link_prediction",
    "q217_pmi_collocations",
    "q218_linear_attribution",
    "q219_scene_changes",
    "q220_streaming_holt",
    "q221_matryoshka_recall",
    "q222_conformal_intervals",
    "q223_ab_test_wilson",
    "q224_psi_drift",
    "q225_lang_id_kappa",
    "q226_roc_auc",
    "q227_calibration_brier",
    "q228_ks_two_sample",
    "q229_gini_lorenz",
    "q230_ri_audit",
    "q231_skew_advisor",
    "q232_seasonal_decompose",
    "q233_phrase_search",
    "q234_mutual_nn_pairs",
    "q235_bandit_replay",
    "q236_spearman",
    "q237_cross_corr_lags",
    "q238_haar_energy",
    "q239_isotonic_calibration",
    "q240_woe_iv",
    "q241_deletion_neighborhood",
    "q242_grouped_moments",
    "q243_temporal_reachability",
    "q244_kendall_tau",
    "q245_streaming_hll",
    "q246_interval_schedule",
    "q247_ngram_novelty",
    "q248_txn_refresh",
    "q249_grouped_ols2",
    "q250_jl_recall",
    "q251_window_funnel",
    "q252_cohort_retention",
    "q253_weighted_sssp",
    "q254_k_anonymity",
    "q255_association_rules",
    "q256_welch_ttest",
    "q257_postings_stats",
    "q258_pii_redaction",
    "q259_mahalanobis2",
    "q260_sequential_trigrams",
    "q261_runs_test",
    "q262_wasserstein1",
    "q263_ess_weights",
    "q264_stream_funnel",
    "q265_zone_map_audit",
    "q266_compaction_plan",
    "q267_stationary_markov",
    "q268_term_burstiness",
    "q269_mutual_nn_rule",
    "q270_local_clustering",
    "q271_zipf_fit",
    "q272_max_concurrency",
    "q273_decayed_topk",
    "q274_weighted_reservoir",
    "q275_js_divergence",
    "q276_minhash_calibration",
    "q277_streaming_cdc_upsert",
    "q278_mann_whitney",
    "q279_grouped_ks_bh",
    "q280_bootstrap_ci",
    "q281_dedup_yield_curve",
    "q282_fightin_words",
    "q283_embedding_isotropy",
    "q284_graph_modularity",
    "q285_jm_surprise",
    "q286_eb_shrinkage",
    "q287_entropy_rate",
    "q288_did_estimator",
    "q289_cuped",
    "q290_join_size_estimate",
    "q291_skipgram_negatives",
    "q292_session_surprise",
    "q293_clustering_depth",
    "q294_mutual_information",
    "q295_good_turing",
    "q296_heaps_law",
    "q297_oof_target_encoding",
    "q298_quantile_normalization",
    "q299_tail_dependence",
    "q300_sprt_ab",
    "q301_decision_stump",
    "q302_coverage_greedy",
    "q303_simpsons_reversal",
    "q304_t_closeness",
]

# Registered queries deliberately NOT in HEADLINE, each with its
# reason — almost always a shape-duplicate: an in-HEADLINE sibling
# times the identical physical-plan shape, so benching both would
# double-count the same cost curve without adding signal.  The
# coverage guard (tests/test_docs.py) asserts HEADLINE ∪ this map ==
# the full registry and that every named sibling is itself benched.
HEADLINE_SKIP = {
    "q02_count_orders": "COUNT(*) scalar; scan-agg shape timed by q01",
    "q03_order_date_range": "MIN/MAX scalar; scan-agg shape timed by q01",
    "q04_topk_latest_events": "global sort-limit; TakeOrdered shape timed by q25",
    "q10_user_gap_stats": "per-user lag window; shape timed by q09",
    "q11_setops": "set-op pair; diff shape timed by q118",
    "q14_fingerprint": "per-doc hash map; doc-scan shape timed by q13",
    "q15_text_quality": "per-doc token ratios; doc token scan timed by q40",
    "q16_lang_id": "per-doc marker counts; doc token scan timed by q40",
    "q18_embedding_dupes": "pairwise cosine dedup; embedding shape timed by q19",
    "q20_minhash_lsh_dedup": "shingle band join; dedup shape timed by q17",
    "q21_simhash": "shingle sketch dedup; shape timed by q17",
    "q22_streaming_hourly": "availableNow micro-batch; streaming shape timed by q104",
    "q23_media_stats": "mapInPandas codec; Arrow batch shape timed by q197",
    "q26_hour_bucket_join": "hour-bucket enrichment; join shape timed by q24",
    "q27_json_typed_stats": "JSON path extraction; shape timed by q12",
    "q28_lsh_ann": "sign-LSH ANN; cell-pruned shape timed by q19",
    "q29_ml_forecast": "closed-form regression; shape timed by q68",
    "q30_text_embed": "native md5-bucket embed, no Python crossing; doc-scan shape timed by q13",
    "q32_pivot": "pivot agg; grouping-sets shape timed by q31",
    "q33_distinct_aggs": "multi-distinct agg; shuffle-agg shape timed by q07",
    "q34_median_stddev": "exact percentile agg; shape timed by q152",
    "q35_running_sum": "running window sum; frame shape timed by q66",
    "q37_ngram_topk": "ngram explode count; token scan timed by q40",
    "q38_dedup_clusters": "CC over dup pairs; dedup family timed by q17",
    "q39_brp_lsh_simjoin": "BRP LSH simjoin; ANN shape timed by q19",
    "q42_stateful_user_totals": "applyInPandasWithState; streaming state timed by q126",
    "q43_profile": "column profiler; stats-agg shape timed by q131",
    "q44_semi_join": "LEFT SEMI; semi-join shape timed by q117",
    "q45_rollup": "ROLLUP agg; grouping-sets shape timed by q31",
    "q46_outer_join": "outer shuffle join; join-agg shape timed by q07",
    "q47_string_funcs": "scalar-function batch; codegen projection timed by q05",
    "q48_date_funcs": "scalar-function batch; codegen projection timed by q05",
    "q49_math_funcs": "scalar-function batch; codegen projection timed by q05",
    "q50_window_zscore": "per-key window stats; shape timed by q113",
    "q51_embedding_dupes_lsh": "LSH-blocked dupes; ANN shape timed by q19",
    "q52_sql_api_pricing": "q01 via spark.sql API; identical plan to q01",
    "q53_seeded_sample": "hash-seeded sample; sampling shape timed by q157",
    "q55_minhash_native": "native minhash agg; dedup family timed by q17",
    "q56_simhash_stable": "stable simhash; dedup family timed by q17",
    "q57_sliding_window": "sliding range frame; shape timed by q66",
    "q58_approx_stats": "sketch estimate batch; HLL shape timed by q147",
    "q61_rich_inactive_customers": "NOT EXISTS; anti-join shape timed by q60",
    "q64_window_ranks": "rank/dense_rank; window shape timed by q09",
    "q65_array_funcs": "array higher-order batch; codegen projection timed by q05",
    "q67_pysource_weather": "constant-size REST fixture; no data-scale component",
    "q69_udtf_tokenize": "UDTF explode; token stream shape timed by q40",
    "q70_pandas_udaf": "Arrow UDAF; vectorized-Python cost timed by q197",
    "q71_promo_revenue_share": "conditional scan agg; shape timed by q07",
    "q72_small_qty_revenue": "filtered scan agg; shape timed by q07",
    "q73_value_windows": "value-range frames; shape timed by q66",
    "q74_salted_agg": "salted skew agg; skew shape timed by q107",
    "q75_token_budget": "prefix-sum budget cut; packing family timed by q41",
    "q76_pretrain_packing": "two-phase pack; packing family timed by q41",
    "q77_training_pipeline": "chunk+pack+shard composite; stages timed by q41",
    "q78_feed_enrichment": "stream enrichment join; shape timed by q24",
    "q79_stratified_sample": "per-stratum sample; sampling shape timed by q157",
    "q80_disjunctive_join": "OR-split join union; range shape timed by q59",
    "q81_unpivot_metrics": "stack projection; codegen shape timed by q05",
    "q82_price_histogram": "width-bucket counts; binned shape timed by q124",
    "q83_levenshtein": "edit-distance pairs; linkage shape timed by q146",
    "q84_bitwise_aggs": "bit_and/or/xor agg; shuffle-agg shape timed by q07",
    "q85_session_funnel": "ordered-step funnel; session shape timed by q36",
    "q86_custdist": "join + count-distribution; shape timed by q07",
    "q90_market_share": "multi-join share agg; shape timed by q89",
    "q91_retention_cohorts": "cohort window counts; shape timed by q134",
    "q92_merge_prune_partitioned": "partition-pruned merge; merge shape timed by q06",
    "q93_decontamination": "ngram overlap join; shingle shape timed by q17",
    "q94_repetition_signals": "in-row ngram ratios; token scan timed by q40",
    "q95_pii_redaction": "regex scan + redact; projection timed by q40",
    "q96_mixture_sample": "weighted source sample; sampling shape timed by q157",
    "q97_shard_manifest": "shard writer manifest; packing family timed by q41",
    "q98_returned_customers": "EXISTS subquery; semi-join shape timed by q60",
    "q99_min_cost_supplier": "correlated min; struct-argmax shape timed by q111",
    "q100_revenue_share_threshold": "group share filter; argmax shape timed by q111",
    "q101_nation_year_profit": "multi-join profit agg; shape timed by q89",
    "q102_top_supplier": "grouped max join-back; argmax shape timed by q111",
    "q103_dominant_suppliers": "share-threshold argmax; shape timed by q111",
    "q105_ivf_ann": "IVF ANN; cell-pruned shape timed by q19",
    "q106_zorder_clustering": "interleaved-bit layout; locality join timed by q135",
    "q308_theil_sen": "calendar-bounded daily pair grid; the only data-scale stage (daily agg scan) timed by q08; rank-stat family timed by q244",
    "q309_mann_kendall": "calendar-bounded daily pair grid; daily agg scan timed by q08; rank-stat family timed by q244",
    "q310_chao1_vocab": "count-of-counts prefix of q295's 5-gram pipeline; gram scan timed by q295",
    "q311_hill_tail_index": "bigram count scan timed by q295/q296; post-scan frame is 101 rows",
    "q312_jackknife_shard_variance": "one md5-shard agg pass; shard-agg shape timed by q185; resample-free twin of q280",
}


def engine_versions() -> dict:
    """Version provenance for every engine a correctness/bench claim
    depends on, recorded with each artifact so cross-environment skew
    is a recorded fact instead of a guess."""
    import platform

    import duckdb
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def force(df) -> None:
    """Compute every output column of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def run_canary(spark) -> dict:
    """Pinned micro-canaries whose cost depends ONLY on the host and the
    Spark build, never on the testdata, so a uniform shift in query
    timings can be attributed to environment drift (canary moved too)
    or to plan regressions (canary flat).

    - ``range_agg``: CPU/codegen-bound — sum over a fixed-size range
      with a modulo, zero I/O.
    - ``parquet_scan``: I/O + decode-bound — scan-agg over a parquet
      file GENERATED HERE with fixed content (byte size recorded so
      even an encoder change is visible).
    - ``sched_20job``: scheduler-fixed-overhead-bound — 20 sequential
      one-row jobs whose work is nil, so the wall is 20× (job submit +
      DAG build + task launch + result fetch).  Many queries are
      dominated by per-job fixed overhead, which ``range_agg`` (one big
      job) cannot see.

    min-of-3 each, same estimator as the query timings.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict = {}
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).select(F.sum(F.col("id") % 97)).collect()
        dt = round(time.perf_counter() - t0, 3)
        out["range_agg"] = min(out.get("range_agg", dt), dt)

    for _ in range(3):
        t0 = time.perf_counter()
        for _job in range(20):
            spark.range(1).count()
        dt = round(time.perf_counter() - t0, 3)
        out["sched_20job"] = min(out.get("sched_20job", dt), dt)

    tmp = tempfile.mkdtemp(prefix="bench_canary_")
    try:
        path = os.path.join(tmp, "canary.parquet")
        (
            spark.range(2_000_000)
            .select(
                "id",
                (F.col("id") % 1000).alias("k"),
                (F.col("id") * 2654435761 % 2**31).cast("double").alias("v"),
                F.concat(F.lit("row_"), F.col("id")).alias("s"),
            )
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(path)
        )
        out["parquet_bytes"] = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        for _ in range(3):
            t0 = time.perf_counter()
            spark.read.parquet(path).groupBy("k").agg(
                F.sum("v"), F.max("s")
            ).count()
            dt = round(time.perf_counter() - t0, 3)
            out["parquet_scan"] = min(out.get("parquet_scan", dt), dt)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def sf_table_stats(spark, sf_dir: str) -> dict:
    """Per-table (rows, bytes) of the bench SF dir, recorded in every
    record so a testdata regeneration between records (it has
    happened: ns->us timestamps) is measurable, not guessed.  Row
    counts come from parquet footers (metadata-only scan)."""
    stats = {}
    for name in sorted(os.listdir(sf_dir)):
        if not name.endswith(".parquet"):
            continue
        p = os.path.join(sf_dir, name)
        if os.path.isdir(p):
            nbytes = sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith(("_", "."))
            )
        else:
            nbytes = os.path.getsize(p)
        stats[name.removesuffix(".parquet")] = {
            "bytes": nbytes,
            "rows": spark.read.parquet(p).count(),
        }
    return stats


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # effective core count: what the session actually runs with
    # (local[$SPARK_GRAFT_CPUS]), not os.cpu_count()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    import __spark_entry__ as entry

    from nyc_taxi_data_prediction_pyspark_spark.session import get_spark

    spark = get_spark("bench")
    # Silence the benign DAGScheduler "attempted to access non-existent
    # accumulator" ERROR (a localCheckpoint/ContextCleaner race on GC'd
    # stage accumulators; rc stays 0 and results are unaffected): its
    # multi-page stack otherwise buries the final JSON line.  Scoped to
    # the one logger, bench-process only — library code never touches
    # log levels.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception as e:  # noqa: BLE001 — cosmetic; never fail the bench
        print(f"WARNING: could not tune DAGScheduler log level: {e}", file=sys.stderr)
    qs = entry.queries()

    # pinned environment canary FIRST (cold-ish host state is part of
    # what it measures; queries get their own warm-up)
    canary = run_canary(spark)
    tables = sf_table_stats(spark, sf_dir)

    # warm-up: run every headline query once at the smallest SF so the
    # timed runs measure steady-state execution (codegen + interpreted
    # higher-order-expression JIT paths compiled), not first-call
    # compilation — the realistic condition for a long-lived cluster
    warm_sf = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            force(qs[name](spark, warm_sf))
        except Exception as e:  # noqa: BLE001 — name the query, keep benching
            print(
                f"WARNING: warm-up failed for {name} ({type(e).__name__}: {e}) — "
                "its timing below includes first-call compilation or the timed "
                "pass will surface the real error",
                file=sys.stderr,
            )

    def timed(name: str) -> float:
        t0 = time.perf_counter()
        force(qs[name](spark, sf_dir))
        return round(time.perf_counter() - t0, 3)

    # N full timed passes, min per query: the host is a shared VM and
    # single-shot timings carry multi-second noisy-neighbor stalls; the
    # minimum is the standard least-noise estimator of true cost.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings: dict[str, float] = {}
    for _pass in range(n_passes):
        for name in HEADLINE:
            dt = timed(name)
            timings[name] = min(timings.get(name, dt), dt)

    # noisy-host guard: the most expensive queries dominate the total
    # and are exactly where a noisy-neighbor stall inflates min-of-N,
    # so buy each of them one extra sample
    for name in sorted(timings, key=timings.get, reverse=True)[:8]:
        timings[name] = min(timings[name], timed(name))

    total = round(sum(timings.values()), 3)
    # label from the BASENAME only (a dir without "sf" in its name —
    # e.g. the 10x scale replica — must not leak path separators into
    # the detail filename)
    base = os.path.basename(sf_dir.rstrip("/"))
    sf = base.rsplit("sf", 1)[-1] if "sf" in base else base
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "queries": timings,
        "total_sec": total,
        "n_queries": len(timings),
        "stat": "min_of_passes",
        "action": "noop_write",
        "passes": n_passes,
        "sf": sf_val,
        "sf_tables": tables,
        "canary": canary,
        "cpus": cpus,
        "versions": engine_versions(),
    }
    detail_file = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_DETAIL_sf{sf}.json"
    )
    with open(detail_file, "w") as fh:
        json.dump(detail, fh, indent=1)
    print("BENCH_DETAIL written to " + detail_file)
    # the LAST stdout line is ONE compact JSON object: digest fields
    # plus only the top-20 slowest per-query timings (the full dict
    # lives in the detail file above)
    top20 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:20]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": {n.split("_", 1)[0]: v for n, v in top20.items()},
                "queries_note": "top-20 slowest; full set in detail_file",
                "detail_file": os.path.basename(detail_file),
                "passes": n_passes,
                "sf": sf_val,
                "canary": canary,
                "cpus": cpus,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
