"""Plan evidence for the registered queries, built at sf0.001 in a
session set up like the tests' (tests/conftest.py).

- No arguments: rewrite docs/plan_fingerprints.json, one line per
  query (qNN order) with ``plans.explain.plan_fingerprint``'s node
  counts of its executed plan.  tests/test_plan_lint.py checks the file
  against the plans it builds; re-run this after a plan-affecting
  change.
- Query names: print each query's formatted physical plan, with its
  engineered-property note from NOTES when it has one.

Usage: python tools/dump_plans.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
FINGERPRINTS = os.path.join(ROOT, "docs", "plan_fingerprints.json")
SF = "/root/testdata/sf0.001"

NOTES = {
    "q01_pricing_summary": "one shuffle (group keys); decimal sums keep partial aggregation",
    "q05_clean_contract": "zero shuffles; filters + pruning pushed into the parquet scan",
    "q06_merge_upsert": "left-anti probe (AQE picks broadcast when the fact-key side is small)",
    "q07_revenue_by_nation": "two explicit broadcasts; fact side never shuffles for the joins",
    "q09_top_event_per_user": "single sort-shuffle window; rank filter before any wide projection",
    "q17_ngram_jaccard_dedup": "inverted index: posting groupBy + in-row pair expansion, no self-join",
    "q19_ann_cosine_topk": "narrow map + TakeOrderedAndProject: k rows cross the driver boundary",
    "q24_asof_join": "tagged union + one window pass; no range/cross join anywhere",
    "q25_order_revenue_topk": "join → partial-agg → TakeOrdered; revenue exact via decimal",
    "q59_range_band_join": "broadcast nested-loop on a 3-row band dim; fact side never shuffles for the join",
    "q60_exists_priority": "EXISTS as left-semi: probe rows never duplicate, filter pushed below the join",
    "q62_gap_fill_hourly": "hour spine via sequence+explode (#hours rows) + broadcast left join; one full-data pass",
    "q63_grouping_sets": "one Expand + one aggregate for all three grouping sets — not three scans",
    "q66_trailing_range_window": "single sort-shuffle on user_id; RANGE frame evaluated in one Window exec",
    "q71_promo_revenue_share": "part side broadcast; CASE'd decimal sums keep map-side partial aggregation",
    "q72_small_qty_revenue": "scalar-subquery decorrelation: one agg + one self-join shuffle on l_partkey",
    "q74_salted_agg": "two aggregates (salted partial, final) — the skew rewrite visible as an extra exchange",
    "q76_pretrain_packing": "two-phase prefix sum: range exchange reused across subtrees, data window partitioned by pid, offsets broadcast",
    "q86_custdist": "left join with join-side predicate, then a re-agg on the tiny c_count domain",
    "q87_large_orders": "pre-agg shrinks lineitem before any join; NO forced hint — AQE sizes the join-back at runtime",
    "q88_waiting_suppliers": "semi + anti hash joins on l_orderkey with the <> residual post-probe — no nested loop",
    "q89_volume_shipping": "nation broadcast twice under different role aliases; only fact-side equi-joins shuffle",
    "q90_market_share": "numerator and denominator as conditional decimal sums in one grouped pass over one scan",
    "q91_retention_cohorts": "three shrinking shuffles; first-week join-back co-partitioned on user_id, NO forced hint",
    "q92_merge_prune_partitioned": "anti-join probe carries PartitionFilters — the merge reads one month directory",
    "q93_decontamination": "eval shingles distinct + broadcast; corpus side is one scan + one doc-keyed aggregation",
    "q97_shard_manifest": "full pipeline → shard rollup: banded minhash, partitioned pack windows, tiny manifest agg",
    "q98_returned_customers": "fact joins shuffle on their keys, nation broadcasts, TakeOrdered caps driver rows at 20",
    "q99_min_cost_supplier": "correlated MIN decorrelated: grouped agg + equality join-back, dims broadcast",
    "q100_revenue_share_threshold": "global total as a 1-row broadcast cross join — no whole-table window",
    "q103_dominant_suppliers": "within-part rank window (partitioned), then supplier-keyed counts — no global sort",
    "q105_ivf_ann": "deterministic quantizer: narrow argmax-dot cell map, bucket-filtered TakeOrdered probe",
    "q106_zorder_clustering": "Morton key as pure bitwise codegen; one aggregate over the z-range domain",
    "q107_salted_join": "dim exploded ×8 meets the salted fact on (key, salt) — a hot key spreads over 8 partitions; final agg keeps map-side partials",
    "q109_pagerank": "per iteration: ONE edges⋈ranks shuffle + one dst-keyed agg; rank state O(|V|); lineage truncated per round",
    "q110_quality_terciles": "two-phase grouped rank: range exchange, pid-partitioned local windows, closed-form ntile CASE — no per-language single task",
    "q111_grouped_topk": "salted local row_number keeps ≤ k×64 rows per group before the exact window — hot group spreads over 64 tasks",
    "q112_session_busy_overlap": "interval join as bin equi-join: explode to hour bins, hash join, overlap residual + first-shared-bin dedup — no nested loop",
    "q113_ewma_user_score": "one groupBy shuffle; the EWMA recurrence is a per-group array fold, no window, no UDF",
    "q115_recursive_hierarchy": "native WITH RECURSIVE: one hash join per tree level, O(log N) levels — iterative SQL both engines run",
    "q117_bloom_semi_join": "distributed bitmap build (int-array agg) + map-side membership prefilter, then the exact semi-join strips false positives",
    "q118_table_diff": "ONE full-outer hash join on the key; per-column eqNullSafe comparisons codegen'd, no per-column joins",
    "q120_heavy_hitters": "Misra-Gries candidates from mapInPandas (no shuffle) → broadcast semi-join recount — the full token domain never shuffles",
    "q121_table_checksum": "narrow md5 map + one bucket-keyed aggregate; decimal hash-sum keeps map-side partials, 64 rows out",
    "q122_triangle_count": "degree-ordered orientation then wedge⋈closing-edge as pure equi hash joins — no cartesian at any stage",
    "q124_binned_quantiles": "histogram aggregate (#bins rows) + single-partition cumulative window over bins, never over data rows",
    "q125_cdc_apply": "window over the CHANGE FEED only picks last-ops; base scanned once (anti-join + union) — base is never windowed",
    "q127_point_in_time_join": "temporal lookup = ONE equi hash join on the key, validity window as residual filter — no interval machinery",
    "q128_event_throttle": "one groupBy shuffle; the keep-chain is a per-group integer array fold — no window, no UDF",
    "q132_twap": "one lead window + grouped decimal sums; the division is a single IEEE op rounded at 1e-6",
    "q133_ohlc_bars": "ONE aggregation pass: open/close via lexicographic struct min/max — no window, no self-join",
    "q134_rolling_wau": "contribution explode (x7) + one distinct + one count — never a per-window rescan",
    "q136_key_skew_profile": "key-domain groupBy then a #keys-row summary agg — two map-side-combined aggregations",
    "q137_order_reconciliation": "lineitem aggregated to order grain once; one left join; exact decimal diffs",
    "q138_winsorized_mean": "two windows share one (group, value, id) sort; bounds broadcast back at #groups rows",
    "q139_grouped_mode": "count to the (group, bucket) domain, rank-1 window over the tiny count frame — deterministic ties",
    "q142_kmeans_clusters": "assignment = broadcast k×dim centroid struct inside codegen exprs; per-iteration wire traffic is k·dim rows, the point set never re-shuffles",
    "q143_incremental_view_maintenance": "signed-delta explode over the FEED only + one keyed agg + full-outer fold into the MV — the base is never rescanned",
    "q146_record_linkage": "multi-pass blocking equi-joins with length prefilter; candidates are batch×registry blocks, dedup rides the min-struct winner agg",
    "q153_prefix_filter_simjoin": "df-count join orders tokens rare-first with NO global rank; only prefix tokens enter postings; candidate pairs verify via array_intersect join-back",
    "q155_skyline": "two-phase prefix max: range exchange, pid-partitioned windows, metadata-sized offsets broadcast — no single-partition data window",
    "q156_weighted_median": "value-domain pre-aggregation first; the cumulative window runs over distinct values per group, not raw rows",
    "q157_pps_sample": "two-phase prefix sum (pack machinery) + 1-row total broadcast; hit counts are BIGINT ceil-division grid arithmetic",
    "q159_hll_daily_rollup": "per-(group, day) registers merged by register-wise MAX — distinct-count rollup with no rescan of raw history",
    "q160_count_min_sketch": "in-row cell explode (depth entries) + one counter agg; point estimates probe via broadcast of the depth×width sketch",
    "q162_bfs_reach": "one-frame state visited(node, hop, fresh) on fx.iterate: per round the fresh rows ⋈ src-partitioned edges at hop+1, anti-joined against the state and unioned with the old rows (fresh=false); state checkpointed per round, hop = first-reaching round",
    "q163_kmv_overlap": "grouped top-k sketch (k rows/group); union/intersection algebra over ≤2k rows; estimates are single divisions of exact integers",
    "q164_chi_square": "margins rejoin the cell domain via a constant-key equi join (full grid incl. zero cells); 1-row grand total broadcast",
    "q165_stream_outer_attribution": "watermarked left-outer stream-stream join; unmatched state evicted (emitting NULLs) when the min-of-sides watermark passes the join window",
    "q166_lm_quality": "model = token-domain counts; score join AQE-sized; 1-row total broadcast; per-doc quantized-logp sums order-independent",
    "q167_kcore": "per round: degree agg + two semi-joins over the shrinking survivor edge set, checkpointed; no in-loop driver action",
    "q173_credit_ledger": "one groupBy; the clamp fold is a per-group BIGINT array fold with a scalar struct accumulator — no window, no UDF",
    "q174_naive_bayes": "model = (vocab x classes) count frame; scoring joins test tokens on token + crosses the #classes prior frame; min-struct argmax",
    "q168_mad_outliers": "ONE raw scan to the checkpointed (flag, price, count) histogram; both discrete medians rank-select off it (weight_col path) and |price-med| derives the MAD domain without a second scan; #groups-row med/MAD broadcasts; cut totals ride a window over the cumsum exchange (r13 — no totals join), fracs are a literal explode",
    "q175_containment_excerpts": "contained-side rare-first prefixes probe the full token index; no container length filter; verify via array_intersect join-back",
    "q302_coverage_greedy": "shingle frame built once + localCheckpointed; one-frame covered(shingle, id) state on fx.iterate: each round is one checkpointed anti-join feeding BOTH the gain agg and the appended rows + TakeOrdered(1) left-joined once (a (NULL, id) row for a zero gain); output = per-id count with round = row_number over (gain DESC, id ASC) and covered_total = cumulative sum",
    "q182_personalized_pagerank": "teleport-to-seed-set fixed point: cached src-partitioned fanout, per-iteration |V| rank shuffle only, seed flag rides the cached nodes frame",
    "q183_frequent_triples": "double downward closure: item prune -> in-row triple gen -> three pair semi-joins kill candidates before the counting shuffle",
    "q184_sliding_hll_distinct": "per-day registers once, contribution explode to 7 windows (register volume, not data), max-merge per (window,bucket) — history never rescanned",
    "q176_interpolated_gaps": "hour-spine left join + IGNORE-NULLS neighbor windows per group — windows run over the series domain, never raw events",
    "q177_rolling_correlation": "one trailing RANGE window over the hour index carrying six exact integer moment sums; corr per-row IEEE with NULLIF guard",
    "q185_deterministic_shuffle": "md5 order key, pmod shard, two-phase prefix-sum rank — no per-shard single-task sort, no rand()",
    "q186_bigram_nll": "one exploded bigram stream; two map-side-combinable model counts; AQE-sized joins back; 1-row vocab broadcast; decimal-quantized per-doc sum",
    "q187_mixture_interleave": "per-source md5 ranks then one global WFQ-finish-time rank, both via the two-phase prefix-sum machinery — no global single-partition window",
    "q188_duplicate_spans": "positional spans to constant-width md5 keys before the frequency shuffle; coverage explode bounded at n rows per duplicated span",
    "q189_dsir_importance": "one conditional-agg pass fits BOTH multinomials; bucket-row model broadcast back onto the feature stream; 1-row totals cross",
    "q190_hits": "edge frame checkpointed once; initial mass = 1-row node count broadcast (no setup action); one half() helper per half-step: equi-join + agg keyed on an endpoint, raw sums checkpointed for their two consumers (quotient + normalize), 1-row quotient broadcast; hub state on fx.iterate, last round unrolled to keep the authorities",
    "q191_label_propagation": "per round one |E| join on dst + two map-side-combinable aggs; struct-max mode (no window); |V| label frame checkpointed per round",
    "q192_semdedup": "k-row centroid broadcast for assignment; pairwise cosine confined WITHIN clusters by the equi-join on cluster id — never a corpus cross-join",
    "q193_corpus_gates": "three independent linear signal passes (lang/repetition/LM) composed by two left equi-joins on the id — no gate rescans another's input",
    "q194_winnow_fingerprints": "fingerprint selection entirely in-row (narrow, zero shuffles before the per-doc rollup); O(tokens x w) window folds",
    "q195_bm25_rrf_fusion": "query-term IN filter before any shuffle; #terms-row df and 1-row corpus-stats broadcasts; rank windows only over the already-top-20 frames; fusion cost O(sum of list lengths)",
    "q196_luhn_pii_audit": "maximal-run extraction + Luhn fold fully in-row (one narrow pass); single tiny groupBy on the 2-value validity domain",
    "q197_phash_near_dupes": "frames built natively from md5; aHash via one vectorized mapInPandas, read once; band buckets gathered by one groupBy (collect_list bounded by bucket population) and pairs expanded in-row — no self-join, never all-pairs",
    "q198_degree_assortativity": "two map-side-combinable degree aggs + equi-join-back + one 5-sum moment reduce; coefficient assembled from exact BIGINT moments",
    "q199_vocab_oov": "one token explode; TakeOrdered(V) vocabulary broadcast back as a semi-join flag; per-doc then per-source map-side-combinable rollups",
    "q200_streaming_semantic_dedup": "per-batch work = |batch| x LSH bucket-mates (equi-join on bucket) + one store rewrite; the OR-fold store makes redelivery and late lower-id arrivals idempotent",
    "q201_sq8_quantization_recall": "1-row per-dimension scale broadcast; quantize/dequantize in-row; both rankings TakeOrdered — recall join is k x k",
    "q202_bpe_merge_table": "distinct-word frame (vocab-sized, not corpus-sized); each merge = one argmax 1-row broadcast + in-row re-segmentation fold",
    "q203_bpe_segmentation": "rules applied in fit order as in-row folds over the distinct-word frame; per-length rollup map-side combines",
    "q204_hard_negatives": "anchor batch broadcast (bounded); per-anchor candidates via label-mismatch filter; exact two-phase salted top-k — no global sort",
    "q205_kcenter_coreset": "k iterations x (1-row argmax broadcast + maximin update map) — integer distances, no pairwise corpus join",
    "q206_stratified_quota_split": "bucket-local row_number + tiny per-stratum offset broadcast (the two-phase rank) — no stratum-sized window",
    "q207_kmeans_separation": "k-row centroid broadcast; per-vector rank-1/rank-2 distances in-row; one exact BIGINT moment rollup",
    "q208_markov_transitions": "per-user LEAD window (bounded partitions) + pair counts; row-total is a tiny broadcast for the probability division",
    "q209_fd_profile": "one exact distinct-agg per candidate FD over the same scan; 1-row summaries unioned — no self-joins",
    "q210_retrieval_eval": "1-row probe broadcast; exact cosine map + TakeOrdered(k); DCG weights are plan literals — no runtime libm",
    "q211_length_bucket_padding": "one narrow bucket map (integer bin()-length) + one combinable groupBy — zero joins",
    "q212_holt_forecast": "sequential-fold class (q113): one shuffle, per-group state = own history; (level,trend) struct fold with exact-binary multipliers",
    "q213_cusum_changepoints": "one shuffle; n-scaled BIGINT fold needs no mean division and no second pass (sum/n from the collected array)",
    "q214_rfm_segments": "three two-phase global ranks (q110 machinery) on the 1-row-per-customer frame — no data-sized single-partition window",
    "q215_survival_curve": "per-entity rollup + 1-row max-bucket broadcast; the KM product folds over the metadata-sized duration histogram",
    "q216_ra_link_prediction": "candidate pairs per right-node (sum deg^2, degree-capped); weights by BIGINT floor division; TakeOrdered(k)",
    "q217_pmi_collocations": "in-row token/bigram streams; min_count filters before the two AQE-sized model joins; totals are 1-row broadcasts",
    "q218_linear_attribution": "forward IGNORE-NULLS window per user; touch ranking partitioned by (user, conversion); integer quota split in-row",
    "q219_scene_changes": "narrow mapInPandas codec (header parse + int64 SAD) — zero shuffles before the per-video rows",
    "q220_streaming_holt": "per-batch cost O(|store| + |batch|); arrivals = ONE repartitionByRange write, mtimes fixed in part-name order (r13 — no per-slice rescans); state = 3 scalars per user, watermark-guarded fold",
    "q221_matryoshka_recall": "1-row probe broadcast; truncated-prefix cosines are in-row slice folds over ONE corpus scan; every ranking TakeOrdered(k); recall joins are k x k",
    "q222_conformal_intervals": "spine grid (metadata cross) + per-type exact ceil((n+1)q) residual order statistic — no interpolation, no data-sized global window",
    "q223_ab_test_wilson": "md5 hash-split in-row; one per-user rollup then a 2-row arm aggregate; Wilson interval assembled from exact counts (sqrt correctly rounded)",
    "q224_psi_drift": "first-half deciles via the q152 exact-percentile contract; bucket counts map-side combine; ln terms decimal-quantized before the one distributed sum",
    "q225_lang_id_kappa": "in-row marker scoring; confusion frame is <= classes^2 rows; kappa from one BIGINT rational; 1-row totals broadcast",
    "q226_roc_auc": "distinct-score collapse BEFORE any ranking; exclusive neg-prefix via the two-phase range exchange (no single-task window); 2U as one BIGINT sum",
    "q227_calibration_brier": "one narrow bin map + #bins-row aggregate; per-bin means from DECIMAL(28,10)-quantized sums; Brier/ECE ride a 1-row broadcast",
    "q228_ks_two_sample": "distinct-value collapse, two-phase inclusive cumsums for both samples in ONE pass, metadata reduce for the rational sup-gap argmax",
    "q229_gini_lorenz": "cents-scaled exact ranks from the two-phase ranking; DECIMAL(38,0) rank-value products; Lorenz/deciles over a 10-rows-per-group frame",
    "q230_ri_audit": "per-edge LEFT ANTI against the parent's DISTINCT keys (small parents broadcast by Catalyst); each edge collapses to one row pre-union",
    "q231_skew_advisor": "map-side-combinable key counts (combiners bound hot-key task state); 1-row reduce per frame; ceil salt fan-out by integer div",
    "q232_seasonal_decompose": "hour-spine grid (metadata cross); integer 2x24-MA window sums partitioned by event_type; every float mean decimal-quantized",
    "q233_phrase_search": "postings filtered to phrase tokens by the broadcast spec BEFORE the explode leaves the stage; one shuffle on (phrase, doc, anchor)",
    "q234_mutual_nn_pairs": "pairwise cosine confined WITHIN sign-LSH buckets (equi-join on bucket); best-neighbor is a struct-max groupBy; mutuality one self-join on best edges",
    "q235_bandit_replay": "per-(day,arm) inclusive windows + |arms| forward fills in ONE day-ordered window exec; pick via row_number over 5-row per-step partitions; days independent",
    "q236_spearman": "two distinct-value collapses + two-phase midranks (never a data-sized single-task window); two equi-join rank attachments; one 6-sum moment reduce",
    "q237_cross_corr_lags": "all 25 lag leads in ONE window exec over the metadata-sized hour grid; one 150-sum reduce; best lag via struct-max on the 25-row frame",
    "q238_haar_energy": "level l = one combinable groupBy on i div 2 over a frame that HALVES per level; integer folds; levels run on fx.rounds, which checkpoints each level frame for its two consumers (energy agg + next level)",
    "q239_isotonic_calibration": "one binning pass; the PAV fit is O(bins^3) nested-HOF codegen on ONE metadata row — a sequential merge algorithm with no sequential plan",
    "q240_woe_iv": "1-row decile-cuts broadcast; in-row comparison-fold bucketing; the WOE/IV algebra lives on the 10-row bucket frame (metadata windows)",
    "q241_deletion_neighborhood": "variant explode (|rows| x len+1) + ONE equi-join on the xxhash64 variant key (8-byte shuffle rows, r13) — a complete lev<=1 candidate set with no cross-join; in-row levenshtein verify",
    "q242_grouped_moments": "one combinable aggregation pass (quantized power sums); moment assembly on the #groups frame",
    "q243_temporal_reachability": "per round ONE arrival-x-edges equi-join (time residual post-probe) + min-combine groupBy; arrival frame localCheckpointed per round",
    "q244_kendall_tau": "an O(n^2)-pairs statistic at O(|X|x|Y|) cells: densified grid (equi-joins on the group key) + two chained 1-D cumulative windows — never a pair join",
    "q245_streaming_hll": "per-batch register agg + store max-merge rewrite; store size = groups x m, independent of stream length; register MAX makes redelivery a no-op",
    "q246_interval_schedule": "sequential-fold class (q128/q173): one groupBy shuffle, greedy as an in-row fold over the sorted interval array — no window, no UDF",
    "q247_ngram_novelty": "reference collapses to its DISTINCT shingle set once; membership = ONE left join keyed on the shingle; per-doc rollup map-side combines",
    "q248_txn_refresh": "two snapshot writes + ONE root-manifest rename (commit cost O(pointer)); the readout joins fact and dim THROUGH read_txn — torn pairings hash-mismatch",
    "q249_grouped_ols2": "one combinable moment aggregation; Cramer cofactors on the #groups frame — no solver, no second scan",
    "q250_jl_recall": "corpus projected in-row (HOF folds); 1-row probe broadcast; three fixed-k rankings",
    "q251_window_funnel": "k-1 conditional-min aggregations chained on the SAME user key (AQE broadcast-or-shuffle); integer-microsecond fold end to end",
    "q252_cohort_retention": "first-event agg + distinct (user, week) + one user-keyed equi-join; both counts map-side combine",
    "q253_weighted_sssp": "fixed 4 Bellman rounds: dist⋈edges equi-join + min-combine groupBy per round; edges repartitioned once and cached, dist localCheckpointed per round",
    "q254_k_anonymity": "rows → classes → histogram, both aggregations map-side combined; 1-row total broadcast (allowlisted BNL)",
    "q255_association_rules": "frequent_pairs' closure prune bounds the pair frame; rule generation is a linear explode + two support equi-joins; 1-row basket-count broadcast (allowlisted BNL)",
    "q256_welch_ttest": "ONE conditional aggregation covers both arms (sum(CASE)); Welch algebra on the #groups frame",
    "q257_postings_stats": "distinct (term, doc); term-partitioned lag (posting-length-bounded); map-side-combined per-term agg; TakeOrdered(100)",
    "q258_pii_redaction": "pure projection — zero shuffles; regex scrub + category counts inside whole-stage codegen",
    "q259_mahalanobis2": "exact integer moments on the #groups frame joined back (AQE broadcast); per-row d² in codegen — no linear-algebra library",
    "q260_sequential_trigrams": "per-user lead window (sequence-length-bounded); in-row triple projection; TakeOrdered(25)",
    "q261_runs_test": "day-bucketed two-phase run count: bucket-local lag windows + a metadata-sized stitch window — never a per-group single-task window",
    "q262_wasserstein1": "distinct-value frame (cardinality-bounded), two-phase prefix sums, decimal-exact summands; one lead window on the distinct frame",
    "q263_ess_weights": "one combinable decimal-factored aggregation; two IEEE divisions on the #groups frame",
    "q135_bucketed_join": "both sides pre-bucketed on the join key: the join plan carries NO exchange — the bucketing IS the shuffle, paid once at write",
    "q148_leakage_safe_split": "group-hash split assignment is a pure projection (zero shuffles before the audit agg); doc→group map broadcast",
    "q149_quality_canonical_dedup": "cluster-keyed struct-max picks the canonical doc in ONE combinable agg — no window over the dup-cluster frame",
    "q154_frequent_pairs": "downward-closure prune (frequent items first) bounds the per-basket explode; pair counts map-side combine",
    "q265_zone_map_audit": "distinct-key two-phase rank (range exchange) + exact integer file bucketing; audit collapses to ONE row — no physical-order dependence",
    "q266_compaction_plan": "per-partition NF-decreasing fold as ONE in-row F.aggregate (two-integer state); file frame bounded at 256/partition by construction",
    "q267_stationary_markov": "domain-sized transition matrix collected to ONE row, out-degree totals summed in that row (no window, no totals join); all 8 power rounds are one in-row aggregate fold written as SQL text — zero per-round shuffles, values bit-identical to the frame loop",
    "q268_term_burstiness": "exact integer (df, S1, S2) per term in one combinable agg; VMR + deterministic top-50 on the #terms frame",
    "q269_mutual_nn_rule": "width rule pins block population ~32: bucket equi-self-join stays per-block quadratic only; struct-max best edge + one mutuality self-join",
    "q270_local_clustering": "degree-ordered orientation caps apex fan-out at O(sqrt(E)); triangles explode to 3 member rows, counts map-side combine, TakeOrdered(100)",
    "q271_zipf_fit": "one token-count agg + TakeOrdered(200); the rank window and OLS assembly run on the 200-row metadata frame",
    "q272_max_concurrency": "distinct-timestamp boundary agg + two-phase prefix sum (range exchange) — never a global single-task window; all-integer sweep",
    "q273_decayed_topk": "power-of-two integer micro-units: one map-side-combinable agg, zero IEEE before the 25 output rows; 1-row reference broadcast (allowlisted BNL)",
    "q274_weighted_reservoir": "content-derived A-ES keys in codegen; salted two-phase grouped top-k bounds hot groups at k x 64 survivors",
    "q275_js_divergence": "sparse closed form: 3 aggs on the present (source, term) frame; the dense sources x vocab grid never materializes; 1-row total broadcast (allowlisted BNL)",
    "q276_minhash_calibration": "q55's banded candidate generation + exact-Jaccard verify ONLY for candidates (in-row set ops); per-level rollup is a <=17-row frame",
    "q278_mann_whitney": "distinct-value agg + exclusive two-phase prefix sum; doubled-unit midranks keep rank sums exact integers; 1-row final assembly",
    "q279_grouped_ks_bh": "per-group distinct-value KS via grouped two-phase prefix sums; BH step-up windows run on the #groups metadata frame only",
    "q280_bootstrap_ci": "all 64 resample sums in ONE map-side-combinable aggregation; B-mean sort in-row on the #groups frame; zero shuffles of randomness",
    "q281_dedup_yield_curve": "q55's banded candidate sweep + per-doc max agg; suffix sums on the 16-row level frame (metadata windows)",
    "q282_fightin_words": "sparse (source, term) frame only; log-odds z in codegen; salted two-phase grouped top-k; 1-row total broadcast (allowlisted BNL)",
    "q283_embedding_isotropy": "two linear passes replace the n-squared pair join (sum-vector identity); component sums on a dim-row frame; 1-row assembly",
    "q284_graph_modularity": "canonical-edge dedup + two entity-sized label joins (AQE broadcast); per-community terms on the #communities frame; 1-row m broadcast",
    "q285_jm_surprise": "in-row bigram instances (slice+zip); model joins AQE-sized; instance frame localCheckpointed (feeds model aggs AND scoring); TakeOrdered(20)",
    "q286_eb_shrinkage": "one per-entity agg; MoM prior on a 1-row frame broadcast back; shrinkage in codegen; TakeOrdered(20)",
    "q287_entropy_rate": "q267's in-row fixpoint (r13) + ONE edges-pi join and two combinable sums; sum_pi rides as the dangling-mass self-check",
    "q288_did_estimator": "all 12 cell statistics in ONE conditional decimal agg — no per-cell passes, no join; 1-row bounds broadcast",
    "q289_cuped": "per-unit conditional decimal agg; pooled theta on a 1-row broadcast; adjusted moments assemble on the 2-arm frame — no second data pass",
    "q290_join_size_estimate": "exact and estimated Sum f_L*f_R both on the per-key COUNT frames (O(keys), never the join output); one key equi-join + 1-row assembly",
    "q291_skipgram_negatives": "repartition-first token explode; instance ranks via two-phase prefix (no global window); draws -> ONE BIGINT rank equi-join; groupBy rollup TakeOrdered(20)",
    "q292_session_surprise": "per-(user, day) lag window (bounded partitions); model agg + AQE-sized score join; decimal NLL sums; TakeOrdered(20)",
    "q293_clustering_depth": "two-phase arithmetic file rank; zones = #files metadata rows; 64-row probe frame broadcast (allowlisted BNL); 1-row assembly",
    "q294_mutual_information": "one scan -> |X|x|Y| cells groupBy; three identical quantized entropy aggs over metadata frames; 1-row grand-total broadcasts (allowlisted BNL); 1-row assembly",
    "q295_good_turing": "5-gram in-row projection + explode; two groupBys (gram counts -> count-of-counts); r+1 self-equi-join ON the metadata frame; 1-row total broadcast (allowlisted BNL)",
    "q296_heaps_law": "trigram explode; first-doc = min(doc) per gram; cumulative (N, V) via two-phase prefix sum (no global window); quantized ln-term OLS in one agg",
    "q297_oof_target_encoding": "md5 folds in-scan; one groupBy to the (key x fold) cells frame; per-key window (<= k rows/partition) + 1-row grand-total broadcast (allowlisted BNL)",
    "q298_quantile_normalization": "two-phase per-group strict ranks (range exchange, no per-group task); exact integer binning; decimal bin means; per-bin window (<= |groups| rows/partition)",
    "q299_tail_dependence": "two two-phase global ranks (range exchange); one id equi-join; 3-row quantile broadcast (allowlisted BNL); integer threshold counts in one agg",
    "q300_sprt_ab": "per-arm cumulative (n, k) via two-phase prefix sum; exact decimal LLR projection; crossing = filter + min agg; left join of 2-row frames",
    "q308_theil_sen": "daily agg scan, then every join/window on the calendar-bounded grid (pair join keyed on event_type; slope/residual medians = histogram + rank windows on metadata frames)",
    "q309_mann_kendall": "same daily grid; S and tie terms are combinable BIGINT aggs; z in codegen on the 5-row frame",
    "q310_chao1_vocab": "gram-count groupBy then ONE combinable corpus aggregate; no joins, no windows",
    "q311_hill_tail_index": "token-count groupBy + TakeOrderedAndProject(101); window/threshold arithmetic confined to the 101-row frame behind a localCheckpoint",
    "q312_jackknife_shard_variance": "one md5-shard aggregation pass; loo/variance algebra on the 16-row frame via 1-row totals broadcast",
}


def main() -> None:
    import __spark_entry__ as e
    from nyc_taxi_data_prediction_pyspark_spark.plans.explain import (
        physical_plan,
        plan_fingerprint,
    )
    from nyc_taxi_data_prediction_pyspark_spark.session import get_spark

    spark = get_spark("plans")
    qs = e.queries()
    names = sys.argv[1:]
    for name in names:
        print(f"## {name}\n")
        if name in NOTES:
            print(f"Engineered property: {NOTES[name]}\n")
        qs[name](spark, SF).explain("formatted")
    if names:
        return
    lines = [
        f"{json.dumps(name)}: {json.dumps(plan_fingerprint(physical_plan(fn(spark, SF))))}"
        for name, fn in qs.items()
    ]
    with open(FINGERPRINTS, "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {FINGERPRINTS} ({len(lines)} queries)")


if __name__ == "__main__":
    main()
