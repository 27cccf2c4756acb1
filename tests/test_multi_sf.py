"""Scale-robustness parity (SURVEY.md §5): the driver checks sf0.01 only;
this re-runs a representative slice of oracle keys at BOTH sf0.001 (empty/
tiny-group edge cases) and sf0.1 (10× the checked scale) so a query that
only works at one data size cannot hide.
"""

from __future__ import annotations

import duckdb
import pytest

pytestmark = pytest.mark.slow  # registry-wide / helper-identity sweeps: CI surface (VERDICT r12 #2)

from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import TABLES
from tests.parity import compare

load_all_modules()

REPRESENTATIVE = [
    "agg_pricing_summary",      # flagship
    "join_5way_regional_revenue",
    "topk_revenue",
    "udaf_grouped_pandas",
    "window_topn_per_group",
    "stream_session_30m",
    "llm_fingerprint",
    "llm_pipeline_end_to_end",
    "events_resample_gapfill",
    "setop_except",
    "agg_describe",             # stddev_samp cross-engine at scale
    "llm_quality_score",        # blended double formula at scale
    "agg_corr_covar",           # exact-moment corr formula at scale
    "window_ratio_to_report",   # windowed integer-sum ratio at scale
    "agg_min_max_by",           # struct tie-break vs window oracle at scale
    "llm_token_count_bpe",      # regex lexer counts at scale
    "events_anomaly_zscore",    # decimal-quantized z-score determinism at scale
    "join_salted_skew",         # salted join ≡ plain join at scale
    "scalar_trig_suite",        # libm last-ulp risk across value domains
    "scalar_array_setops_suite",  # array set-op ordering at scale
    "filter_scan_agg_revenue",  # Q6 exact decimal product sum at scale
    "subquery_in_agg_having",   # HAVING boundary determinism at scale
    "agg_skew_kurtosis_moments",  # Σx⁴ decimal headroom at scale
    "scalar_hof_suite",         # float->double HOF folds across domains
    "llm_minhash_signatures",   # md5 min-hash portability at scale
    "sink_partitioned_roundtrip",  # partitioned write/read losslessness
    "window_ewma",              # exact-FP closed-form EWMA at scale
    "llm_dedup_minhash_banded",  # band bucket sizes across corpus sizes
    "join_market_share",        # decimal ratio round(,6) across scales
    "agg_entropy_daily_mix",    # float entropy sum round(,6) across scales
    "scd2_user_type_history",   # µs timestamp formatting across scales
    "subquery_small_qty_revenue",  # exact 5*qty*cnt<sum rewrite across scales
    "llm_split_hash",           # md5 bucket assignment across corpus sizes
    "graph_degree_distribution",  # derived-edge graph shape across scales
    "llm_mixture_resample",     # md5-threshold sampling rates across scales
    "llm_shuffle_shards",       # sharded shuffle positions across scales
    "llm_decontaminate",        # shingle-overlap join across corpus sizes
    "events_time_weighted_avg",  # decimal-weighted durations across scales
    "agg_ols_closed_form",      # exact-moment OLS across scales
    # round-3 additions with scale-sensitive arithmetic headroom
    "emb_pca_power_iteration",  # int64 gram/matvec overflow headroom at 4× rows
    "emb_dim_variance_topk",    # Σx² µ²-unit headroom + rank ties across scales
    "ml_knn_accuracy_exact",    # neighbor-rank/vote tie determinism at scale
    "agg_histogram_sketch_quantiles",  # bucket interpolation across distributions
    "events_ks_drift",          # CDF tie handling across value multiplicity
    "llm_shard_checksum_manifest",  # order-insensitive checksum across corpus sizes
    "agg_kmv_distinct_estimate",  # bottom-k order statistics across key counts
    "sink_bucketed_join_roundtrip",  # bucketed write/join parity across SFs
    "join_bloom_prefilter",     # bit-position membership across key domains
    # extension pack 7 (round-3 continuation): scale-sensitive surfaces
    "llm_line_dedup",           # window-duplicate density + rebuild across corpus sizes
    "emb_semdedup",             # cell occupancy + cosine threshold across N
    "window_linear_interpolate",  # gap structure + interpolation across series lengths
    "join_asof_forward",        # µs gap arithmetic + ties across event volumes
    "events_trend_mann_kendall",  # pair-sign sums + tie correction across densities
    "llm_decontaminate_semantic",  # split sizes and neighbor counts across corpus sizes
    "llm_bpe_pair_stats",       # vocabulary growth + rank ties across corpus sizes
    "window_rank_variants",     # distribution-rank rationals across group sizes
    # extension pack 8: scale-sensitive surfaces
    "audit_freshness_sla",      # µs lag arithmetic + 24h window across densities
    "agg_theil_sen",            # pair counts + lower-median rank across series lengths
    "join_interval_overlap",    # burst threshold + band width across volumes
    "llm_sample_weighted_priority",  # u/w priority ordering across corpus sizes
    # extension packs 9-10: scale-sensitive surfaces
    "agg_mannwhitney_u",        # rank-x2 integrality under tie multiplicity at scale
    "events_attribution_multitouch",  # touch-window density + floor(1e6/n) folds
    "llm_preference_pairs",     # TTR score ties + group sizes across corpus sizes
    "sink_merge_on_read_roundtrip",  # base+log reconstruction across key domains
    "events_dow_seasonality_residual",  # weekday cell occupancy across densities
    "source_csv_multiline_quoted",  # quote/newline mangling across corpus sizes
    # extension packs 11-13: scale-sensitive surfaces
    "join_geo_grid_knn",        # cell occupancy + distance ties across point counts
    "graph_shortest_path_bounded",  # edge costs + path structure across flow volumes
    "llm_dedup_url_canonical",  # collision group sizes across corpus sizes
    "relational_pipe_syntax",   # pipe-parse + HAVING boundary across volumes
    "events_markov_prediction", # split sizes + argmax ties across densities
    "audit_dataset_diff",       # drop/revision cohort sizes across corpus sizes
    "source_kafka_wire_parse",  # offset ranks + µs json roundtrip across volumes
    "llm_blocklist_filter",     # term hit distributions across corpus sizes
    # extension packs 15-17: scale-sensitive surfaces
    # (emb_matryoshka_eval and join_skyline_pareto excluded: their
    # ORACLES are O(N²) — 267 s at sf0.1 measured for the skyline
    # NOT-EXISTS — both carry brute-force python checks at sf0.001
    # in their own test files instead)
    "llm_fingerprint_winnowing",  # shingle density + fingerprint collisions at scale
    "agg_trimmed_winsorized_mean",  # trim fraction + order-statistic ties at scale
    "events_haar_energy",       # dyadic padding + energy magnitudes across densities
    "agg_lorenz_decile_shares",  # ntile boundaries + share rounding across volumes
    # extension packs 18-22: scale-sensitive surfaces
    "graph_modularity_regions",  # edge-weight magnitudes + Q terms across volumes
    "agg_two_proportion_ztest",  # conversion rates + z expression across cohort sizes
    "events_cohort_ltv_curve",  # cohort occupancy + cumsum across densities
    "events_outage_runs",       # gap counts + µs arithmetic across densities
    "audit_props_schema_validation",  # injection rates across volumes
    "sink_manifest_pruned_read",  # band occupancy + skip rates across volumes
    "agg_hhi_concentration",    # dollar-fold headroom + share ratios across volumes
    "window_bollinger_bands",   # window moments + breakout flags across densities
    "events_conformance_transitions",  # transition coverage across volumes
    "events_conformance_fitness",  # per-trace ratios across user counts
    # extension pack 23: scale-sensitive surfaces
    "llm_span_dedup_coverage",  # span doc-frequency + coverage ratios across corpus sizes
    "events_kaplan_meier",      # risk-set sizes + micro-nat accumulation across user counts
    # extension pack 24: scale-sensitive surfaces
    "agg_anova_f",              # 100-dollar-fold headroom + moment identities across volumes
    "events_dispersion_index",  # bucket occupancy + integer Fano across densities
    "emb_srp_signature",        # projection sums + bucket occupancy across corpus sizes
    "llm_domain_affinity_resample",  # profile cut + acceptance rates across corpus sizes
    # extension pack 25: scale-sensitive surfaces
    "audit_k_anonymity",        # class sizes + risk flags across populations
    "llm_cdc_chunk_dedup",      # boundary density + dup shares across corpus sizes
    "window_hampel_filter",     # window occupancy + integer MAD across densities
    # extension pack 26: scale-sensitive surfaces
    "agg_bootstrap_ci_revenue",  # replicate weights + CI order stats across volumes
    "agg_jackknife_loo_nation",  # LOO moments + pseudo-values across volumes
    "agg_capture_recapture_ngrams",  # sample overlap + estimator across corpus sizes
    # ml_metrics, the scored cohort: scale-sensitive surfaces
    "ml_roc_curve_threshold",   # threshold grid + cumulative counts across cohort sizes
    "ml_auc_exact",             # midrank ties + rank-sum across cohort sizes
    "ml_calibration_by_score",  # score occupancy + lift across cohort sizes
    # extension pack 28: scale-sensitive surfaces
    "events_frequent_2seq",     # pair support + tie semantics across user counts
    "join_fifo_allocation",     # interval overlap density across lineitem volumes
    # extension pack 29: scale-sensitive surfaces
    "audit_order_reconciliation",  # break magnitudes + cents headroom across volumes
    "ml_ndcg_at_k",             # model cut + discount sums across cohort sizes
    # extension pack 30: scale-sensitive surfaces
    "agg_spearman_corr",        # rank-grid ties + two-step fold headroom across volumes
    "llm_keyness_chi2",         # contingency margins + double mirroring across corpus sizes
    # extension pack 31: scale-sensitive surfaces
    "ml_cohen_kappa",           # confusion margins + negative-safe fold across volumes
    "agg_runs_test",            # run counts + two-step fold headroom across volumes
    # extension pack 32: scale-sensitive surfaces
    "events_shapley_attribution",  # mask occupancy + coalition worths across user counts
    "llm_watermark_greenlist",  # pair parity + z2 folds across corpus sizes
    # extension pack 33: scale-sensitive surfaces
    "agg_price_index",          # per-part floors + period splits across volumes
    "llm_shard_dedup_loss_audit",  # pair combinatorics across corpus sizes
    "llm_source_style_distance",  # vocabulary cut + profile folds across corpus sizes
    # extension pack 34: scale-sensitive surfaces
    "events_diff_in_diff",      # cohort cells + period split across volumes
    "events_stratified_ate",    # stratum support + weighted fold across cohort sizes
    # extension pack 35: scale-sensitive surfaces
    "multimodal_payload_fingerprint_buckets",  # bucket occupancy across corpus sizes
    "llm_preference_length_bias",  # pair coverage + signed folds across corpus sizes
    # extension pack 36: scale-sensitive surfaces
    "audit_replication_checksum",  # block occupancy + residue sums across volumes
    # extension pack 37: scale-sensitive surfaces
    "events_halflife_decay_score",  # week ages + shift folds across densities
    "ml_feature_drift_chi2",    # contingency folds + headroom across cohort sizes
    # extension pack 38: scale-sensitive surfaces
    "events_peak_velocity_1h",  # range-frame density + tie picks across densities
    "audit_monotonic_id_gaps",  # gap island shapes across volumes
    # extension pack 39: scale-sensitive surfaces (link prediction stays
    # off the slice like graph_triangle_count - wedge work is superlinear
    # and sf0.01 already hash-checks the algorithm)
    "llm_readability_flesch",   # milli folds + syllable counts across corpus sizes
    "relational_group_by_all",  # inference + cents sums across volumes
    # ml_metrics, McNemar and the AUC bootstrap: scale-sensitive surfaces
    "ml_mcnemar_test",          # paired cells across corpus sizes
    "ml_auc_bootstrap_ci",      # weighted midranks + degenerate-replicate culls across cohort sizes
    # extension pack 41: scale-sensitive surfaces
    "agg_bayesian_average_rating",  # shrinkage reorderings across volumes
    "llm_vocab_growth_curve",   # batch occupancy + first-seen across corpus sizes
    # extension pack 42 (hodges_lehmann stays off the slice - its pair
    # table is span-bounded and identical at every SF, sf0.01 suffices)
    "join_asof_nearest",        # tie rules + null edges across densities
    # extension pack 43: scale-sensitive surfaces
    "agg_tail_attribution_topk",  # rank cutoffs + share folds across volumes
    # packs 44-108 (ADVICE r3: the slice previously stopped at pack 43,
    # leaving ~130 newer keys without sf0.001/sf0.1 coverage). One
    # scale-sensitive key per pack, favouring int64 fold headroom, order-
    # statistic/tie determinism, and occupancy-dependent shapes. Skipped
    # pack keys are scale-invariant fixture parsers (source_csv_* encoding
    # variants, source_trailer/cursor/degenerate) or roundtrips already
    # represented above (pack 50).
    "ml_lift_gain_deciles",        # decile boundaries across cohort sizes
    "join_bitemporal_asof",        # two-axis µs as-of ties across volumes
    "emb_mutual_knn_pairs",        # distance ties + mutuality across N
    "emb_pq_codebook_assign",      # subspace argmin ties across N
    "agg_moments_merge_audit",     # partition-merge moment folds headroom
    "llm_source_overlap_matrix",   # shingle overlap cells across corpus sizes
    "ml_target_encoding_loo",      # LOO folds + smoothing across volumes
    "agg_ratio_delta_method",      # variance folds + ratio CI across volumes
    "window_pattern_match_vshape", # lag patterns across series densities
    "agg_chain_ladder_development",# triangle occupancy across volumes
    "events_attribution_ushape_exact",  # touch positions + 40/20/40 splits
    "emb_farthest_first_seeds",    # iterative argmax ties across N
    "ml_threshold_youden",         # threshold grid + J ties across cohorts
    "subquery_relational_division",# division candidates across volumes
    "agg_abc_xyz_classification",  # cumulative-share cuts + CV across volumes
    "events_srm_check",            # cohort counts + chi2 folds across users
    "llm_eval_pass_at_k",          # combinatorial pass rates across corpus sizes
    "relational_distinct_on",      # DISTINCT ON tie rules across volumes
    "events_hellinger_drift",      # bucket occupancy + sqrt folds across densities
    "ml_cost_sensitive_threshold", # cost grid + argmin ties across cohorts
    "agg_var_cvar_exact",          # tail order statistics across volumes
    "events_missing_heartbeat_grid",  # grid join density across users
    "audit_three_way_match",       # tolerance bands + cents headroom across volumes
    "join_business_day_settlement",# calendar-roll joins across volumes
    "emb_ivf_cell_balance",        # cell occupancy skew across N
    "window_range_interval_frame", # RANGE frames across event densities
    "ml_mcc_exact",                # confusion products int64 headroom across cohorts
    "agg_effect_size_cohens_d",    # pooled-sd folds across cohort sizes
    "llm_index_of_coincidence",    # char-pair combinatorics across corpus sizes
    "ml_ols_inference",            # XtX folds + se across volumes
    "window_decile_migration_matrix",  # decile cuts both periods across volumes
    "events_burstiness_goh_barabasi",  # inter-arrival moments across densities
    "graph_degree_assortativity",  # edge-end moment folds across volumes
    "ml_ks_separation_exact",      # CDF gap ties across cohort sizes
    "events_hysteresis_alerting",  # state-machine runs across densities
    "subquery_not_in_null_trap",   # NULL-semantics candidates across volumes
    "events_mtbf_mttr",            # failure-run µs arithmetic across densities
    "events_cuped_variance_reduction",  # covariate folds across user counts
    "window_on_balance_volume",    # signed cumsum across series lengths
    "agg_simpson_paradox_audit",   # stratum reversal cells across volumes
    "events_slo_error_budget",     # burn-rate windows across densities
    "llm_self_consistency_vote",   # vote pluralities + ties across corpus sizes
    "ml_bradley_terry_strengths",  # pair-win matrices + iteration across volumes
    "llm_collocation_lift",        # bigram margins across corpus sizes
    "graph_degree_ccdf_log2",      # log2 bucket occupancy across volumes
    "ml_topk_accuracy_exact",      # rank cuts + ties across cohort sizes
    "agg_proportional_allocation", # largest-remainder seats across volumes
    "join_tolerance_reconciliation",  # band matches + cents headroom across volumes
    "agg_second_price_auction",    # order statistics per group across volumes
    "window_mtd_pacing",           # month-to-date cumsum across densities
    "events_littles_law_audit",    # L=λW folds across densities
    "llm_judge_position_bias",     # position swaps across corpus sizes
    "events_ljung_box_q",          # autocorr lag folds across series lengths
    "events_periodicity_comb",     # comb bucket occupancy across densities
    "window_record_recovery_days", # running-max recovery spans across densities
    "llm_token_offsets_audit",     # offset reconstruction across corpus sizes
    "events_group_sequential_looks",  # interim looks + z folds across users
    "agg_fisher_ideal_index",      # paired-period folds across volumes
    "agg_borda_count_ranking",     # rank-sum ties across volumes
    "agg_meta_analysis_fixed_effect",  # inverse-variance folds across cohorts
    "agg_two_way_anova",           # cell occupancy + SS folds across volumes
    "agg_mean_excess_pot",         # threshold exceedances across volumes
    "ml_kendall_tau_rank_stability",  # concordant-pair combinatorics across volumes
    "agg_price_volume_mix_bridge", # paired-period decomposition across volumes
    "events_circular_hour_stats",  # unit-vector folds across densities
    "agg_hoover_index",            # two-step fold int64 headroom across volumes
    "emb_norm_quarantine",         # unit-norm pinning across N
    # round-4 packs 109-111: scale-sensitive surfaces
    "events_queue_lindley_backlog",  # burst structure + µs drain folds across densities
    "ml_psi_feature_stability",    # decile edges + bin occupancy across volumes
    "llm_containment_dedup",       # overlap band + orientation ties across corpus sizes
    "llm_group_advantage_normalize",  # moment headroom + group sizes across corpus sizes
    "agg_friedman_test",           # block completeness + rank ties across volumes
    "sink_snapshot_time_travel",   # prefix-fold snapshot across volumes
    "window_parkinson_volatility",  # daily extremes + micro-nat folds across densities
    "agg_atkinson_index",          # ln micro-nat sums + AM-GM bound across volumes
    "llm_mmr_diversified_topk",    # pool membership + greedy ties across corpus sizes
    "emb_cov_topk_pairs",          # cross-moment headroom + rank ties across N
    "ml_pr_auc_exact",             # threshold grid + two-step fold across cohort sizes
    "events_dau_mau_stickiness",   # day/month occupancy across densities
    "scalar_month_arithmetic_suite",  # clamp events + spine coverage across volumes
    "llm_length_powerlaw_hill",    # tail order stats + ln folds across corpus sizes
    "ml_brier_decomposition_murphy",  # bin occupancy + RES fold headroom across N
    "agg_simpson_diversity",       # pair counts + segment occupancy across volumes
    "window_vwap",                 # fill-sequence folds + sampled parts across volumes
    "ml_conformal_interval_split",  # radius rank + coverage guarantee across volumes
    # round-5 real-codec keys: encode→decode round trip across doc volumes
    "multimodal_bmp_decode",       # BMP padding/flip/BGR spec parity across N
    "multimodal_wav_decode",       # WAV chunk-walk/endianness parity across N
    # round-6 real-codec key: DEFLATE + five-filter unfilter across N
    "multimodal_png_decode",       # PNG CRC/IDAT-reassembly/filter parity
]

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.1"]


@pytest.fixture(scope="module", params=SFS)
def sf_oracle(request):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{request.param}/{t}.parquet')"
        )
    yield request.param, con
    con.close()


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_parity_across_scale_factors(name, spark, sf_oracle):
    sf_dir, con = sf_oracle
    q = QUERIES[name]
    ok, msg = compare(name, q.fn(spark, sf_dir), q.oracle, con)
    assert ok, f"{name} @ {sf_dir}: {msg}"
