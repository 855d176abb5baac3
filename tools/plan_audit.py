"""Physical-plan audit: sweep every registered query and flag plan
anti-patterns that would hurt at scale.

For each query the tool prints operator counts parsed from the
(pre-execution, AQE-initial) physical plan:

- ``xchg``  - shuffle exchanges (hashpartitioning/rangepartitioning)
- ``bcast`` - broadcast exchanges
- ``smj/bhj`` - sort-merge vs broadcast hash joins
- ``wsc``   - whole-stage-codegen spans (more/wider is better)
- flags: CartesianProduct, BroadcastNestedLoopJoin, row-at-a-time
  PythonUDF in a hot path (Arrow/pandas evals are fine and listed as
  ``arrow``), and ``unbounded_broadcast`` - an explicit broadcast hint
  whose build side is not provably bounded (see
  :func:`hint_boundedness`)

Streaming queries execute a real drain when their DataFrame is built,
so they are skipped by default (pass --all to include them). Their
STREAM-side executed plans get the equivalent gate in
``tests/test_stream_plan_audit.py``, which audits the plans captured
by ``_run_to_sink`` (state-store operators, static-dim broadcast,
banned operator list).

Usage: python tools/plan_audit.py [--json PLANSHAPE.json] [sf_dir] [query ...]
Exit code 1 if any query trips a flag, else 0 - usable as a CI gate.

``--json`` additionally writes the per-query shape counts to an
artifact (the round's ``PLANSHAPE.json``). A full run rotates any
existing artifact to ``PLANSHAPE_PREV.json`` first; a subset run
merges its rows into the artifact without rotating. The PREV file lets
``tests/test_planshape.py`` diff round-over-round and fail on
UNEXPLAINED shape drift (a join silently flipping SMJ -> BNLJ is
invisible in wall-time noise; it is one integer in this diff).
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from tools.oracle_check import dump_artifact, read_artifact
from web_scraping_etl_pipeline_spark.plans import QUERIES
from web_scraping_etl_pipeline_spark.plans.common import release_transients
from web_scraping_etl_pipeline_spark.session import get_spark

#: queries whose construction executes a streaming drain (slow) or is
#: otherwise not a pure lazy plan; skipped unless --all.
STREAMING = {
    "q34_stream_passthrough",
    "q35_stream_daily_finalized",
    "q37_stateful_user_profiles",
    "q71_stream_sliding_finalized",
    "q115_stream_stream_join",
    "q145_stream_dedup",
    "q176_stream_static_join",
    "q206_stream_lsh_neardup",
    "q212_stream_session_finalized",
    "q217_stream_source_quota",
    "q223_stream_stream_left_outer",
    "q232_stream_stream_full_outer",
    "q237_stream_update_upsert",
    "q247_python_stream_source",
    "q262_stream_join_then_window",
    "q265_stateful_timeout_sessions",
    # not streams, but construction executes the full batch pipeline
    # (scratch silver writes) / k driver-argmax rounds - not a pure
    # lazy plan either; their plan properties are pinned by
    # tests/test_pipeline.py and the q269 docstring instead.
    "q271_pipeline_silver",
    "q272_pipeline_silver_bucketed",
    "q278_remaining_time_refresh",
    "q269_greedy_coverage",
    # construction executes the K-step greedy loop (bounded 1-row
    # argmax jobs); the returned frame is a LocalTableScan, so the
    # default audit would pay the workload to audit nothing.
    "q284_mmr_rerank",
    # same class (round-7): construction runs the full driver loop
    # (10 BPE merge rounds / 6 power-iteration collects / the BT
    # matrix collect) and returns a LocalTableScan; the distributed
    # shapes are audited through q301 (shares the BPE census + merge
    # application) and the scale probes.
    "q300_bpe_train_loop",
    "q303_power_iteration_pca",
    "q315_bradley_terry_sources",
    # construction runs the 11-step greedy walk (constant-cost lookups
    # on the cached vocabulary-bounded transition table) and returns a
    # LocalTableScan; the census/aggregate shapes are audited through
    # q83/q317 (same bigram census).
    "q325_greedy_lm_decode",
}

FLAG_PATTERNS = {
    "cartesian": r"CartesianProduct",
    "nested_loop": r"BroadcastNestedLoopJoin",
    # row-at-a-time Python eval; Arrow-batched evals show up as
    # ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas instead.
    "row_python_udf": r"\bBatchEvalPython(?!UDTF)",
    # Window with no partitionBy: the whole relation moves to ONE task
    # ("WindowExec: No Partition Defined") - the classic 100 TB
    # serialization point. An ORDERED unpartitioned window plans as
    # Window -> Sort -> Exchange SinglePartition; an UNORDERED one
    # (e.g. F.sum(...).over(Window.partitionBy())) plans WITHOUT the
    # Sort, directly Window -> Exchange SinglePartition - the r5-judge
    # detector gap that let q104's whole-vocabulary window through.
    # The optional Sort line covers both; a plain global agg's
    # SinglePartition exchange has no Window parent, so the sandwich
    # stays precise.
    "global_window": (
        r"Window [^\n]*\n(?:[^\n]*Sort [^\n]*\n)?"
        r"[^\n]*Exchange SinglePartition"
    ),
}

#: adjudicated exceptions: queries whose BroadcastNestedLoopJoin is a
#: crossJoin against a BROADCAST AGGREGATE FRAME of <= k rows (1-row
#: quantile cutpoints, 1-row corpus count, k-row centroid table). An
#: NLJ whose build side is a handful of rows is a map-stage
#: multiplication, not a quadratic join - the flag exists to catch
#: *unbounded* build sides.
ALLOW = {
    "q77_tfidf_topterms": {"nested_loop"},  # 1-row n_docs frame
    "q99_kmeans_assign": {"nested_loop"},  # k=10 centroid frame
    "q104_unigram_lm_score": {"nested_loop"},  # 1-row corpus-total frame
    "q118_equidepth_histogram": {"nested_loop"},  # 1-row cutpoints
    "q132_skew_report": {"nested_loop"},  # 1-row mean-frequency frame
    "q165_important_parts": {"nested_loop"},  # 1-row revenue threshold
    "q171_idle_rich_customers": {"nested_loop"},  # 1-row AVG threshold
    "q175_vocab_coverage": {"nested_loop"},  # 4-row coverage targets
    "q207_temperature_mixture": {"nested_loop"},  # two 1-row norm frames
    "q209_semantic_cluster_dedup": {"nested_loop"},  # q99's k=10 centroids
    "q214_quality_percentile_gate": {"nested_loop"},  # 1-row percentile cutoff
    "q221_ann_recall": {"nested_loop"},  # 10-row eval query frame
    "q241_corpus_datasheet": {"nested_loop"},  # 1-row summary frames crossed
    "q257_ndcg_eval": {"nested_loop"},  # 10-row candidate frame crossed
    "q258_survival_curve": {"nested_loop"},  # 1-row max-day frame
    "q260_cusum_changepoint": {"nested_loop"},  # 1-row mean + 1-row peak
    "q253_time_decay_features": {"nested_loop"},  # 1-row anchor frame
    "q256_hll_sketch_union": {"nested_loop"},  # 1-row exact-NDV bridge frame
    "q266_dedup_agreement": {"nested_loop"},  # three 1-row metric frames
    "q267_distinctive_terms": {"nested_loop"},  # 1-row corpus totals frame
    "q305_pmi_collocations": {"nested_loop"},  # two 1-row total frames
    "q306_kmeans_lloyd": {"nested_loop"},  # k=4 centroid frame per round
    "q310_cuped_ab_readout": {"nested_loop"},  # 1-row bounds + moments
    "q279_bm25_topk": {"nested_loop"},  # 1-row N/avgdl stats frame
    "q281_lm_perplexity_buckets": {"nested_loop"},  # 1-row vocab-size frame
    # 50-row depth-weight literal theta-joined to a <=50-row pool
    # intersection + 1-row n_common frame
    "q283_rank_agreement_rbo": {"nested_loop"},
    "q285_gate_agreement_kappa": {"nested_loop"},  # 1-row percentile cutoff
    # |langs| x |sources| marginal grid + 1-row total/dims frames
    "q286_lang_source_chi2": {"nested_loop"},
    "q290_truncation_sweep": {"nested_loop"},  # 4-row max_len literal frame
    "q292_source_transfer_matrix": {"nested_loop"},  # 1-row vocab frame
    # ~|values|-row grid broadcast + 1-row corpus-total frame
    "q295_wasserstein_length_drift": {"nested_loop"},
    # two 1-row normalization frames (corpus total, partition Z)
    "q298_corpus_plan": {"nested_loop"},
    # 1-row u-probability frame (sum-of-squared-frequency aggregates)
    "q297_fellegi_sunter_weights": {"nested_loop"},
    "q299_hard_negative_mining": {"nested_loop"},  # 10-row query frame
    "q317_kneser_ney_bigrams": {"nested_loop"},  # 1-row distinct-bigram total
    # 256-row limit-derived sample crossed with 1-row count/quantile
    # frames - all bounded by construction.
    "q323_bottomk_sample_quantiles": {"nested_loop"},
    # minimax isotonic fit: theta self-joins (j<=i<=k) on the ~11-row
    # score-decile BIN aggregate - cubic in bins, constant in corpus.
    "q320_isotonic_calibration": {"nested_loop"},
    # Kendall pair stage: non-equi self-join of the 365-row
    # CALENDAR-bounded daily aggregate (explicitly broadcast; grows
    # with days, never with data volume).
    "q327_kendall_tau_daily": {"nested_loop"},
    # 1-row class-totals frame + 1-row argmin frame crossed into the
    # ~18-row length-bucket sweep.
    "q329_gini_stump_split": {"nested_loop"},
    # 1-row corpus-token-total frame crossed into the unigram seed
    # (r15 lazy single-action beam: the crossJoin existed before but
    # lived behind a driver collect, so the audited readout plan
    # never showed it).
    "q361_beam_search_decode": {"nested_loop"},
    # 1-row edge-count frame crossed with the 1-row wedge/closure
    # aggregate (r9 rewrite: one lazy plan instead of three driver
    # count() actions).
    "q416_neardup_transitivity": {"nested_loop"},
    # 1-row edge-stats frame crossed with the 1-row corpus-counts
    # frame (scalar merge).
    "q440_neardup_split_leakage": {"nested_loop"},
    # three 1-row capture-count frames crossed into the Chapman
    # arithmetic (r9 rewrite: one lazy plan instead of three driver
    # count() actions).
    "q421_dedup_capture_recapture": {"nested_loop"},
    # three 1-row frames (totals, loo-mean, centered SS) crossed into
    # the |sources|-row sufficient-statistics frame.
    "q330_jackknife_group_mean": {"nested_loop"},
    # 1-row global-prior frame crossed into the (source, fold) grid.
    "q331_target_encoding": {"nested_loop"},
    # EMD grid: |QI-groups| aggregate x <=11-row score-decile
    # aggregate x 1-row totals - all aggregate-bounded by
    # construction.
    "q332_t_closeness": {"nested_loop"},
    # 1-row normalizer frame crossed into the 256-row sampling table.
    "q333_negative_sampling_table": {"nested_loop"},
    # sign-matrix grid: Range({DIM}) x Range(16) crossJoin - two
    # constant Range leaves, 1024 rows by construction.
    "q334_jl_projection_distortion": {"nested_loop"},
    # ACF lag pair stage: non-equi self-join of the ~|days|-row
    # CALENDAR-bounded daily aggregate + 1-row moments frame
    # (the q327 adjudicated-BNLJ discipline).
    "q336_daily_autocorrelation": {"nested_loop"},
    # 1-row smoothing-statistics frame (n1tok/n0tok/V) + 1-row prior
    # frame crossed into the vocabulary-bounded model / test fold.
    "q337_naive_bayes_lang": {"nested_loop"},
    # two 1-row metric frames (ECE, Brier) crossed into the <=11-row
    # score-decile bin aggregate.
    "q338_brier_ece_calibration": {"nested_loop"},
    # per boosting round: 1-row weighted-totals frame crossed into
    # the ~50-row (feature, bucket) sweep; final 1-row ensemble-error
    # frame crossed into the 3-row stump table.
    "q339_adaboost_stumps": {"nested_loop"},
    # 1-row corpus-totals frame crossed into the <=16-row bucket
    # occupancy histogram.
    "q344_feature_hash_audit": {"nested_loop"},
    # top-30 term frame x |sources| marginal grid + 1-row corpus
    # total - all aggregate-bounded by construction.
    "q345_term_dispersion": {"nested_loop"},
    # banded lag self-join of the CALENDAR-bounded daily aggregate
    # (fan-in capped at _SES_MAXLAG) + 1-row min-day/MAE frames
    # (the q327/q336 adjudicated-BNLJ discipline).
    "q346_ses_forecast": {"nested_loop"},
    # |sources| x 4-row epoch grid crossed with the 1-row budget
    # frame - all aggregate-bounded by construction.
    "q348_epoch_allocation": {"nested_loop"},
    # per subspace round: broadcast NLJ against the K=4-row
    # limit/aggregate-derived codebook frame (the q306 Lloyd shape).
    "q349_pq_codebooks": {"nested_loop"},
    # three 1-row metric frames (cands/truth/caught counts) crossed
    # into the 1-row doc-count frame - all aggregate-bounded.
    "q350_blocking_quality": {"nested_loop"},
    # 14-literal cutoff grid broadcast against the per-CHUNK metadata
    # aggregate - both sides bounded by construction.
    "q351_zone_map_pruning": {"nested_loop"},
    # 1-row credit-total frame crossed back into the |channels|-row
    # rollup - aggregate-bounded by construction.
    "q353_u_shaped_attribution": {"nested_loop"},
    # 2x2 pivot: four 1-row (cohort x period) cell frames crossed -
    # aggregate-bounded by construction.
    "q354_did_readout": {"nested_loop"},
    # 1-row pooled-moments frame crossed into the |event_type|-row
    # group-moments aggregate - aggregate-bounded by construction.
    "q355_simpsons_slope_audit": {"nested_loop"},
    # 1-row OLS-coefficient / conformal-quantile / test-count frames
    # crossed into the fact scan and each other - the q202
    # exact-quantile shape; all broadcast sides are 1-row aggregates.
    "q356_conformal_coverage": {"nested_loop"},
    # 1-row minsup/n_docs frame crossed into the pair- and
    # triple-support aggregates - aggregate-bounded by construction.
    "q358_apriori_triples": {"nested_loop"},
    # 9-row constant cell-offset frame (the 3x3 neighborhood) crossed
    # into the point scan - constant-bounded by construction.
    "q360_dbscan_grid": {"nested_loop"},
    # 9-row decile grid crossed into the (cohort, micro-value)
    # VALUE-DOMAIN aggregate - both sides bounded by construction.
    "q363_quantile_treatment_effect": {"nested_loop"},
    # 64-row constant assignment grid + 1-row observed-statistic frame
    # crossed into the per-user aggregate - bounded by construction.
    "q364_permutation_test": {"nested_loop"},
    # DP split enumeration: non-equi self-joins and backtrack joins
    # over the <=|distinct lengths|-row VALUE-DOMAIN prefix aggregate
    # and 1-row boundary frames - aggregate-bounded by construction.
    "q365_optimal_1d_segmentation": {"nested_loop"},
    # 1-row positives-total frame crossed into the score-domain sweep
    # - aggregate-bounded by construction.
    "q366_pr_curve": {"nested_loop"},
    # per join arm: three 1-row stats frames (counts/NDVs/actual)
    # crossed - aggregate-bounded by construction.
    "q370_join_cardinality_audit": {"nested_loop"},
    # 1-row totals frame crossed into the k-row fold-moment aggregate
    # - aggregate-bounded by construction.
    "q373_kfold_cv_mae": {"nested_loop"},
    # 1-row corpus-count and query-norm frames crossed into the
    # vocabulary-bounded idf / postings aggregates - bounded.
    "q374_tfidf_cosine_topk": {"nested_loop"},
    # 1-row edge-count frame crossed into the |labels|-row cluster
    # aggregate - aggregate-bounded by construction.
    "q376_label_modularity": {"nested_loop"},
    # banded pair self-join of the CALENDAR-bounded daily aggregate
    # (the q327/q336 class).
    "q377_theil_sen_trend": {"nested_loop"},
    # 1-row min-day frame crossed into the calendar-bounded top-k
    # day frame - aggregate-bounded by construction.
    "q378_topk_churn": {"nested_loop"},
    # 1-row minsup/n_docs frames crossed into the vocab-bounded
    # support aggregates (the q358 shapes) - bounded by construction.
    "q381_association_rules": {"nested_loop"},
    # 5-row level grid crossed into the CALENDAR-bounded daily
    # aggregate - constant-bounded by construction.
    "q384_haar_energy": {"nested_loop"},
    # 3-row gap-threshold grid crossed into the lagged event stream
    # (map-stage multiply, the q351/q290 sweep device).
    "q385_session_gap_sweep": {"nested_loop"},
    # k-row cluster-MOMENT frame broadcast against the point scan
    # (the moment trick: no pair relation exists) - |labels|-bounded.
    "q386_silhouette_sq": {"nested_loop"},
    # 1-row grand-sum frame crossed into the 1-row totals frame.
    "q387_calinski_harabasz": {"nested_loop"},
    # k x k cluster-moment pair enumeration (|labels|^2-bounded).
    "q388_davies_bouldin": {"nested_loop"},
    # 1-row total/purity/MI/entropy frames crossed into the
    # |labels| x |bins| contingency aggregate - bounded.
    "q389_cluster_agreement": {"nested_loop"},
    # 1-row median frame crossed into the CALENDAR-bounded daily
    # aggregate - bounded by construction.
    "q392_runs_test": {"nested_loop"},
    # within-day k^2 rank self-join + 1-row statistic frame over the
    # calendar x k bounded aggregate (the q327/q336 class).
    "q393_friedman_test": {"nested_loop"},
    # 1-row H/tie frames crossed into the k=|sources|-row rank-sum
    # aggregate - aggregate-bounded by construction (q318 class).
    "q394_kruskal_wallis": {"nested_loop"},
    # 1-row moment frames crossed into the k-row group-moment
    # aggregate - aggregate-bounded by construction.
    "q395_anova_score_by_source": {"nested_loop"},
    # 1-row ANOVA-on-z moment frames crossed into the k-row
    # group-moment/median aggregates - aggregate-bounded (q395 class).
    "q396_brown_forsythe": {"nested_loop"},
    # q393's shape verbatim: within-day k^2 rank self-join + 1-row
    # L/variance frame over the calendar x k bounded aggregate.
    "q399_page_trend_test": {"nested_loop"},
    # q336's shape verbatim: banded lag self-join of the CALENDAR-
    # bounded daily aggregate + 1-row moments/portmanteau frames.
    "q402_ljung_box": {"nested_loop"},
    # q327/q377's shape: theta self-join of the CALENDAR-bounded daily
    # aggregate (|days|^2/2 pairs) + 1-row S/tie/n frames crossed.
    "q403_mann_kendall": {"nested_loop"},
    # |days|^2 census cross of the CALENDAR-bounded daily aggregate +
    # 1-row n/dmax frame crossed into the |days|-row U path.
    "q404_pettitt_changepoint": {"nested_loop"},
    # 1-row grand-median frame broadcast into the fact scan, then
    # 1-row margin/chi2 frames crossed into the k=|sources|-row cells.
    "q407_moods_median": {"nested_loop"},
    # 1-row OLS-coefficient frame crossed into the CALENDAR-bounded
    # daily aggregate (the q346 residual-frame class).
    "q408_durbin_watson": {"nested_loop"},
    # 6-row lag literal + 1-row moment frame crossed into the
    # CALENDAR-bounded daily aggregate; the banded lag join itself is
    # the q336 adjudicated class.
    "q409_ccf_volume_reach": {"nested_loop"},
    # 1-row moment frame crossed into the CALENDAR-bounded daily
    # aggregate before the 1-row argmax TakeOrdered.
    "q411_grubbs_outlier": {"nested_loop"},
    # 1-row group-totals frame crossed into the |durations|-row
    # at-risk path and the 1-row O/E/V reduce (q258 class).
    "q413_logrank_conversion": {"nested_loop"},
    # 1-row token-totals frame crossed into the vocabulary-bounded
    # census before the 2-cell KL reduce.
    "q414_jsd_token_mix": {"nested_loop"},
    # 1-row weight-total/leftover frames crossed into the k=|langs|
    # stratum frame (largest-remainder top-up, q102 class).
    "q415_neyman_allocation": {"nested_loop"},
    # weekday-banded theta self-join of the CALENDAR-bounded daily
    # aggregate + 1-row S/tie/variance frames (q403 class).
    "q417_seasonal_mann_kendall": {"nested_loop"},
    # 1-row moment frames crossed into the CALENDAR-bounded daily /
    # census frames (q403/q318 class).
    "q419_bartels_rvn": {"nested_loop"},
    # 1-row total-moment frame crossed into the 1-row stratum-sum
    # frame - two scalar frames.
    "q423_icc_score_by_source": {"nested_loop"},
    # 1-row N/tie frame crossed into the distinct-LENGTH census
    # (q318 class) + 1-row moment reduce.
    "q425_ansari_bradley_lepage": {"nested_loop"},
    # 1-row OLS-coefficient and den frames crossed into the
    # CALENDAR-bounded daily aggregate (q408 class).
    "q426_cooks_distance_days": {"nested_loop"},
    # 1-row n/mean frame crossed into the 1-row PH argmax.
    "q429_page_hinkley": {"nested_loop"},
    # 1-row k/m/A/T/Q moment frame crossed into the k=|sources|-row
    # group frame (q423 class).
    "q430_james_stein_shrinkage": {"nested_loop"},
    # 1-row crossing/final frames crossed into the 1-row path reduce.
    "q431_sprt_error_monitor": {"nested_loop"},
    # 1-row k/n and deviation/tie frames crossed over the 140-row
    # (judge, weekday) closed-domain aggregate (q393 class).
    "q432_kendalls_w_weekday": {"nested_loop"},
    # bucket-grid self-join: |length buckets| x |score buckets|
    # contingency census crossed with itself (q286 class).
    "q434_gamma_somers_d": {"nested_loop"},
    # 1-row total frame crossed into the |langs| x |sources| census
    # and its marginals (q286 class).
    "q435_theils_u_lang_source": {"nested_loop"},
    # k^2/2 self-join of the |sources|-row aggregate + 1-row
    # MSW-moment frames (q330 class).
    "q436_tukey_pairwise_gaps": {"nested_loop"},
    # three 1-row per-segment OLS frames crossed into the
    # CALENDAR-bounded daily aggregate (q408 class).
    "q437_chow_break_test": {"nested_loop"},
}

#: adjudicated global_window exceptions: the window input is a BOUNDED
#: AGGREGATE, not an unbounded relation, so one task holding it is by
#: construction fine (and cheaper than a two-phase prefix pass).
ALLOW_GLOBAL_WINDOW = {
    # cumulative window over the 10-row hash-fraction bucket
    # aggregate - bounded by the nest design, never fact-sized.
    "q347_vocab_growth_curve",
    # greedy-knapsack sweep over the |sources| x 4 epoch candidate
    # grid - aggregate-bounded by construction.
    "q348_epoch_allocation",
    # distinct (brand, type) dimension - bounded by the dimension
    # domain (~|brands| x |types|), never fact-sized.
    "q103_surrogate_keys",
    # ratio-to-report over the 5-row o_orderpriority aggregate; the
    # heavy groupBy is map-side-combined, window touches 5 rows.
    "q92_priority_revenue_share",
    # chi-square margins over the (source, lang) contingency cells -
    # bounded by the dimension cross product, never fact-sized.
    "q116_lang_source_drift",
    # percent-of-parent grand total over the (region, nation) revenue
    # aggregate (~25 rows).
    "q163_percent_of_parent",
    # mixture normalization over the per-SOURCE count aggregate -
    # bounded by |sources|.
    "q181_mixture_weights",
    # DSIR corpus totals over the fixed B-row hashed-bucket feature
    # frame (_DSIR_B rows by construction).
    "q226_dsir_importance",
    # KL marginals over the (source, length-bucket) aggregate -
    # bounded by |sources| x (_KL_MAX_BUCKET + 1).
    "q229_source_length_kl",
    # LAG over the MONTHLY revenue aggregate - bounded by calendar
    # months in the data.
    "q137_mom_revenue_growth",
    # running sum over per-DAY first-seen counts - bounded by days.
    "q153_cumulative_distinct",
    # remainder ranking over the (source, lang) CELL aggregate -
    # bounded by the dimension domain, broadcast back to the fact.
    "q220_corpus_assembly",
    # KM running sums over the per-LIFETIME-DAY aggregate - bounded by
    # observed days, never fact-sized.
    "q258_survival_curve",
    # CUSUM path over the per-DAY aggregate - bounded by days.
    "q260_cusum_changepoint",
    # corpus CDF cumsum over the length VALUE-DOMAIN aggregate
    # (token counts span ~20-80 values) - bounded, never fact-sized.
    "q295_wasserstein_length_drift",
    # rank cumsum over the SCORE-GROUP aggregate - bounded by the
    # milli-unit score domain (<= 1001 rows), never fact-sized.
    "q287_quality_dup_auc",
    # tie-rank cumsum over the distinct-LENGTH aggregate - bounded by
    # the n_chars value domain (~hundreds of rows), never fact-sized.
    "q318_mann_whitney_u",
    # prefix sums over the ~11-row score-decile bin aggregate feeding
    # the minimax isotonic fit.
    "q320_isotonic_calibration",
    # Gini-sweep cumulative counts over the ~18-row length-bucket
    # VALUE-DOMAIN aggregate - bounded by the n_chars range DIV 32,
    # never fact-sized.
    "q329_gini_stump_split",
    # inverse-CDF cumsum over the 256-row LIMIT-derived sampling
    # table - bounded by construction.
    "q333_negative_sampling_table",
    # centered 7-day moving window over the per-DAY aggregate -
    # bounded by calendar days (the q260 CUSUM precedent).
    "q335_seasonal_decomposition",
    # prefix sums + per-level argmin windows over the VALUE-DOMAIN
    # length aggregate (<= ~500 rows) - bounded, never fact-sized.
    "q365_optimal_1d_segmentation",
    # TP/FP cumsum over the SCORE-DOMAIN aggregate (<= 1001 milli
    # values - the q287 precedent), never fact-sized.
    "q366_pr_curve",
    # slope-median rank window over the |days|^2/2 CALENDAR-bounded
    # pair aggregate - bounded, never fact-sized.
    "q377_theil_sen_trend",
    # median-rank and run-boundary LAG windows over the
    # CALENDAR-bounded daily aggregate - bounded, never fact-sized.
    "q392_runs_test",
    # tie-rank cumsum over the distinct-LENGTH aggregate - the exact
    # q318 Mann-Whitney window shape, k-group variant.
    "q394_kruskal_wallis",
    # hypothesis-order ROW_NUMBER over the k=|event types|-row rank-
    # sum aggregate - k rows by construction.
    "q399_page_trend_test",
    # U_k cumsum over the CALENDAR-bounded daily aggregate - bounded
    # by days (the q260 CUSUM window class).
    "q404_pettitt_changepoint",
    # tie-rank cumsum over the distinct-LENGTH census - the exact
    # q318 window shape (domain-bounded, never fact-sized).
    "q406_cliffs_delta",
    # grand-median rank scan over the distinct-LENGTH census +
    # 1-row stat frame - domain-bounded (q318/q402 class).
    "q407_moods_median",
    # residual LAG over the CALENDAR-bounded daily aggregate -
    # bounded by days (the q260/q404 class).
    "q408_durbin_watson",
    # at-risk prefix sums over the |distinct durations|-row lifetime
    # aggregate - calendar-bounded (the q258 KM window class).
    "q413_logrank_conversion",
    # remainder ROW_NUMBER over the k=|langs|-row stratum frame -
    # k rows by construction (the q220 apportionment class).
    "q415_neyman_allocation",
    # LAG/LEAD over the CALENDAR-bounded daily aggregate - bounded by
    # days (the q260/q408 class).
    "q418_turning_point_test",
    # rank census cumsum + day-order LEAD over calendar-bounded
    # frames (q318 + q260 classes).
    "q419_bartels_rvn",
    # |distinct-diff|-census cumsum - domain-bounded (q318 class).
    "q420_wilcoxon_signed_rank",
    # AB score cumsum over the distinct-LENGTH census - domain-
    # bounded (q318 class).
    "q425_ansari_bradley_lepage",
    # PH path cumsum/cummin over the CALENDAR-bounded daily frame
    # (q260/q404 class).
    "q429_page_hinkley",
    # combined/within-group midrank cumsums over the distinct-LENGTH
    # census - domain-bounded (q318 class).
    "q439_brunner_munzel",
    # LLR path cumsum over the CALENDAR-bounded daily frame
    # (q260/q404 class).
    "q431_sprt_error_monitor",
}
for _name in ALLOW_GLOBAL_WINDOW:
    ALLOW.setdefault(_name, set()).add("global_window")

#: adjudicated unbounded_broadcast exceptions: broadcast hints whose
#: build side IS bounded by construction, just not through a node the
#: structural walk can prove (Aggregate/Limit/constant leaf/fixed dim).
#: Each entry names the bound. Everything NOT here must either derive
#: its broadcast side from an aggregate/limit or drop the hint so AQE
#: decides broadcast-vs-shuffle from runtime sizes.
ALLOW_UNBOUNDED_BROADCAST = {
    # distinct over the CLOSED (p_brand, p_type) dimension domain -
    # ~|brands| x |types| rows at any SF; Deduplicate is not a bounding
    # node in general (the LSH flagged-id set taught us that), but a
    # distinct over enum-like dim columns is.
    "q103_surrogate_keys",
    # global_lead fringe heads: filter to <= npartitions*k literal row
    # numbers (plans/common.py:421) - partition-count-sized metadata.
    "q131_sorted_neighborhood",
    "q136_key_gap_audit",
    "q294_suffix_lcp_spans",
    # Misra-Gries candidate superset: each partition emits <= K
    # counters by sketch construction - <= K * npartitions rows.
    "q151_heavy_hitters",
    # per-dim rows of the ONE query vector (filter vec_id == const):
    # |dims| rows (64), constant in the corpus.
    "q156_quantized_rerank",
    # eval query frame: filter vec_id < _EVAL_QUERIES literal - <= 10
    # vectors at any SF.
    "q221_ann_recall",
    "q257_ndcg_eval",
    "q299_hard_negative_mining",
    # distinct over the token-count VALUE DOMAIN (~20-80 values) -
    # bounded by the length distribution's support, not the corpus.
    "q295_wasserstein_length_drift",
    # (judge = user_id % 20, weekday) aggregate: the grouping keys
    # are CLOSED domains (20 x 7 = 140 rows at any SF).
    "q432_kendalls_w_weekday",
}
for _name in ALLOW_UNBOUNDED_BROADCAST:
    ALLOW.setdefault(_name, set()).add("unbounded_broadcast")

#: adjudicated single_partition_funnel exceptions: coalesce(1) /
#: repartition(1) whose child IS bounded by construction, but through
#: an Aggregate the strict walk refuses to trust. Each entry names the
#: bound. Everything NOT here must keep its cache distributed
#: (repartition by key) or funnel only provably-bounded frames.
ALLOW_PARTITION_FUNNEL: dict[str, str] = {
    # q365: prefix-sum / DP-level frames over the n_chars VALUE-DOMAIN
    # aggregate - <= |distinct document lengths| rows (a few hundred at
    # any SF; lengths are capped by the doc model, not the corpus).
    "q365_optimal_1d_segmentation": "n_chars value domain (~500 rows)",
}
for _name in ALLOW_PARTITION_FUNNEL:
    ALLOW.setdefault(_name, set()).add("single_partition_funnel")


#: parquet basenames whose row count is FIXED by the data model, not by
#: the data volume: TPC-H nation (25 rows) and region (5 rows) stay the
#: same size at SF 100 000. Every other table (customer, part, orders,
#: lineitem, documents, embeddings, events) grows with the corpus and
#: must NOT be force-broadcast from a raw scan.
BOUNDED_TABLES = {"nation.parquet", "region.parquet"}

#: logical nodes whose OUTPUT cardinality is bounded regardless of the
#: input: an Aggregate's rows are its group-key domain, a Limit is
#: literally capped. Deduplicate is deliberately ABSENT: distinct()
#: over fact-derived ids (the LSH flagged-doc membership set) grows
#: with the corpus. Aggregates get one more check (ADVICE r7): a
#: groupBy whose keys include a FACT KEY (doc_id, o_orderkey, ...)
#: has corpus-proportional output - ``F.broadcast(df.groupBy(
#: "doc_id").count())`` is the same shape as the Deduplicate
#: antipattern and must NOT pass as bounded.
_BOUNDING = {"Aggregate", "GlobalLimit", "LocalLimit"}

#: per-row identifier columns of the data model's FACT tables: a
#: grouping on any of these has output cardinality proportional to the
#: table itself, not to a closed dimension domain.
FACT_KEY_COLS = {
    "doc_id", "vec_id", "user_id", "event_id", "o_orderkey",
    "l_orderkey", "c_custkey", "o_custkey", "s_suppkey", "l_suppkey",
    "ps_suppkey", "p_partkey", "l_partkey", "ps_partkey",
}

_FACT_KEY_RE = re.compile(
    r"\b(" + "|".join(sorted(FACT_KEY_COLS)) + r")#\d+"
)


def _aggregate_fact_keyed(node) -> bool:
    """True if this Aggregate groups on a known fact-key column
    (attribute refs render as ``name#exprId`` in the Scala seq)."""
    try:
        keys = node.groupingExpressions().toString()
    except Exception:  # noqa: BLE001 - non-Aggregate shape
        return False
    return bool(_FACT_KEY_RE.search(keys))

#: leaves that are constant-derived (driver literals, ranges).
#: LogicalRDD qualifies because in this codebase it only arises from
#: ``spark.createDataFrame(<driver-local list>)`` (partition-stat
#: offsets, literal grids, cutpoints) - the RDD API is banned by the
#: UDF policy (SURVEY.md 2.8), so a LogicalRDD frame was already
#: materialized in driver memory and is broadcastable by construction.
_BOUNDED_LEAVES = {"LocalRelation", "OneRowRelation", "Range", "LogicalRDD"}


def _node_bounded(node, trust_aggregates: bool = True) -> bool:
    """True if this logical subtree provably yields a bounded frame.

    ``trust_aggregates=False`` (the single-partition-funnel gate)
    refuses to treat ANY Aggregate as bounding: the funnel defect this
    round (q325/q361 bigram caches) was precisely an Aggregate whose
    group-key domain (bigram types) grows with the corpus, so a
    1-partition coalesce below one must be adjudicated by name, never
    structurally waved through.
    """
    name = node.getClass().getSimpleName()
    if name in _BOUNDING:
        if name == "Aggregate" and (
            not trust_aggregates or _aggregate_fact_keyed(node)
        ):
            return False
        return True
    if name in _BOUNDED_LEAVES:
        return True
    if name == "LogicalRelation":
        try:
            path = node.relation().location().rootPaths().head().toString()
        except Exception:  # noqa: BLE001 - non-file relation (JDBC etc.)
            return False
        return path.rstrip("/").rsplit("/", 1)[-1] in BOUNDED_TABLES
    children = node.children()
    n = children.size()
    if n == 0:
        return False  # unknown leaf: assume data-proportional
    return all(
        _node_bounded(children.apply(i), trust_aggregates)
        for i in range(n)
    )


def hint_boundedness(df) -> list[str]:
    """Audit every explicit broadcast hint in ``df``'s analyzed plan.

    Returns a description line per hint whose build side is NOT
    aggregate/limit/constant-derived (or a fixed-size dimension scan) -
    the construct that forces an OOM at 100 TB where an unhinted join
    would let AQE choose broadcast-when-small, shuffle-when-not.

    Walks the ANALYZED logical plan (pre-optimizer, pre-cache
    substitution), so ``F.broadcast`` hints are still visible as
    ``ResolvedHint(strategy=broadcast)`` nodes even when the optimizer
    later folds them into the join.
    """
    plan = df._jdf.queryExecution().analyzed()
    bad: list[str] = []

    def visit(node):
        name = node.getClass().getSimpleName()
        if name == "ResolvedHint" and "broadcast" in node.hints().toString():
            child = node.children().apply(0)
            if not _node_bounded(child):
                bad.append(child.getClass().getSimpleName())
        children = node.children()
        for i in range(children.size()):
            visit(children.apply(i))

    visit(plan)
    return bad


def partition_funnels(df) -> list[str]:
    """Audit every explicit 1-partition funnel in ``df``'s analyzed
    plan: ``coalesce(1)`` / ``repartition(1)`` (logical ``Repartition``
    with numPartitions=1) and ``repartition(1, cols...)``
    (``RepartitionByExpression``). A single task materializing a
    non-provably-bounded child is the same 100 TB defect class as an
    unbounded broadcast hint, just on the cache path instead of the
    join path (VERDICT r7 item 2: the q325/q361 bigram caches).

    Aggregates do NOT count as bounding here (the bigram census IS an
    Aggregate whose key domain grows with the corpus) - a funnel below
    an aggregate must be adjudicated by name in
    ``ALLOW_PARTITION_FUNNEL``, each entry naming its bound.
    """
    plan = df._jdf.queryExecution().analyzed()
    bad: list[str] = []

    def n_partitions(node, name):
        try:
            if name == "Repartition":
                return node.numPartitions()
            opt = node.optNumPartitions()
            return opt.get() if opt.isDefined() else None
        except Exception:  # noqa: BLE001 - API drift: treat as unknown
            return None

    def visit(node):
        name = node.getClass().getSimpleName()
        if name in ("Repartition", "RepartitionByExpression"):
            if n_partitions(node, name) == 1 and not _node_bounded(
                node.children().apply(0), trust_aggregates=False
            ):
                bad.append(node.children().apply(0).getClass().getSimpleName())
        children = node.children()
        for i in range(children.size()):
            visit(children.apply(i))

    visit(plan)
    return bad


# ---------------------------------------------------------------------------
# Bounded-collect lint (VERDICT r9 item 4)
# ---------------------------------------------------------------------------
#
# Driver-side materialization (.collect/.first/.head/.toPandas/
# .toLocalIterator) is the one operation the physical-plan audit cannot
# see: it is driver code, not a plan node. Each site is fine exactly as
# long as its input is an aggregate over a PROVABLY BOUNDED key domain
# (calendar days, k clusters, n partitions, a 1-row scalar fold) - and
# a latent 100 TB OOM the moment that stops being true. This lint
# AST-scans the engine package for such call sites and requires every
# one to carry an adjudicated rationale below; a new, unadjudicated
# site fails tests/test_plan_audit.py until a human writes down WHY its
# input is bounded.

DRIVER_MATERIALIZE_CALLS = {
    "collect",
    "first",
    "head",
    "toPandas",
    "toLocalIterator",
}

#: site key = "<path relative to the package>:<enclosing function>".
#: Rationale must name the bound.
BOUNDED_COLLECT_ALLOW: dict[str, str] = {
    "pipeline.py:_persist_batch":
        "1-row count+max(+distinct links) batch gate (F6/A2) shared by "
        "run_batch and run_batch_bucketed: scalar fold of the batch",
    "plans/analytics.py:q75_unpivot_roundtrip":
        "distinct event_type list: bounded by the 5-value type domain",
    "plans/analytics.py:q109_median_abs_deviation":
        "per-type medians: <= |event types| rows",
    "plans/analytics.py:q357_holt_trend_forecast":
        "calendar-bounded daily aggregate: <= |days| rows at any volume",
    "plans/analytics.py:q377_theil_sen_trend":
        "daily series for pair-slope enumeration: <= |days| rows",
    "plans/analytics.py:q380_holt_winters":
        "calendar-bounded daily aggregate: <= |days| rows at any volume",
    "plans/common.py:global_rn":
        "per-partition row counts: <= npartitions rows (two-pass order)",
    "plans/common.py:global_cumsum":
        "per-partition partial sums: <= npartitions rows",
    "plans/common.py:global_lead":
        "per-partition boundary rows: <= npartitions rows",
    "plans/datapipe.py:_bpe_train":
        "1-row argmax per BPE merge round (bounded round count)",
    "plans/datapipe.py:q213_dup_ngram_char_fraction":
        "1-row corpus scalar fold",
    "plans/datapipe.py:q269_greedy_coverage":
        "1-row argmax per greedy step, K steps",
    "plans/datapipe.py:q371_count_sketch":
        "sketch readout: d x w = bounded cells + 1-row truth scalar",
    "plans/dedup.py:_build_dedup_clusters":
        "1-row convergence probe (sum of labels) per pointer-jump round",
    "plans/dedup.py:q315_bradley_terry_sources":
        "per-source strength vector: <= |sources| rows per MM round",
    "plans/graph.py:q197_subtree_rollup":
        "1-row max-node-key scalar to size the bounded loop",
    "plans/inference.py:q319_logreg_quality_gd":
        "gradient/loss readout: d+1 scalars per GD step (d = 2)",
    "plans/inference.py:q325_greedy_lm_decode":
        "1-row argmax per decode step on the vocab-bounded bigram table",
    "plans/inference.py:q339_adaboost_stumps":
        "1-row stump argmin + 1-row weight-mass scalar per round",
    "plans/inference.py:q373_kfold_cv_mae":
        "k x 5 fold-moment cells (k = 5)",
    "plans/pipelineq.py:q271_pipeline_silver":
        "scratch-dir end-to-end probe; batch is the probe's fixture",
    "plans/pipelineq.py:q272_pipeline_silver_bucketed":
        "scratch-dir end-to-end probe; batch is the probe's fixture",
    "plans/pipelineq.py:q278_remaining_time_refresh":
        "scratch-dir end-to-end probe; partition rewrite fixture",
    "plans/relational.py:q141_bloom_semi_join":
        "bloom bitmap words: <= M_BITS/64 rows by construction",
    "plans/retrieval.py:q284_mmr_rerank":
        "MMR pool state: <= pool-size rows per greedy pick",
    "plans/stattests.py:q406_cliffs_delta":
        "1-row scalar folds (dominance counts)",
    "plans/stattests.py:q407_moods_median":
        "1-row scalar folds (grand median + 2x2 table)",
    "plans/stattests.py:q408_durbin_watson":
        "1-row DECIMAL(38,0) scalar folds",
    "plans/stattests.py:seg":
        "q365 DP: 1-row per-segment scalar aggregates, k segments",
    "plans/stattests.py:sweep":
        "q428 rich-club: 1-row conditional-count aggregate per frame "
        "(3 floors folded into one agg, r14 - replaced 9 count() "
        "actions)",
    "plans/udx.py:q273_python_datasource_write":
        "Python-sink probe re-reads its own scratch manifest (fixture)",
    "plans/vectors.py:_query_vec":
        "single query vector by primary key (1 row)",
    "plans/vectors.py:q303_power_iteration_pca":
        "d-vector power-iteration state (d = 64) per round",
    "plans/vectors.py:q360_dbscan_grid":
        "1-row convergence probe per pointer-jump round",
    "plans/vectors.py:q362_kcenter_coreset":
        "1-row argmax (farthest point) per k-center step",
    "plans/vectors.py:q54_ivf_topk":
        "IVF probe list: <= NPROBE centroid ids",
    "sources/ingest.py:collect_stats":
        "1-row min/max/count profile fold (schema-bounded columns)",
    "sources/layout.py:file_minmax_stats":
        "1-row min/max fold per file (bounded file list)",
}


def lint_driver_collects(pkg_root: str | None = None) -> dict[str, str]:
    """AST-scan the engine package for driver-materializing calls and
    return {site: detail} for every site NOT adjudicated in
    :data:`BOUNDED_COLLECT_ALLOW` (empty dict = clean)."""
    import ast  # noqa: PLC0415
    import glob as _glob  # noqa: PLC0415
    import os as _os  # noqa: PLC0415

    if pkg_root is None:
        pkg_root = _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "web_scraping_etl_pipeline_spark",
        )
    hits: dict[str, str] = {}
    for path in sorted(
        _glob.glob(_os.path.join(pkg_root, "**", "*.py"), recursive=True)
    ):
        rel = _os.path.relpath(path, pkg_root)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in DRIVER_MATERIALIZE_CALLS
            ):
                continue
            enc, enc_lo = "<module>", -1
            for lo, hi, name in spans:
                if lo <= node.lineno <= hi and lo > enc_lo:
                    enc, enc_lo = name, lo
            key = f"{rel}:{enc}"
            if key not in BOUNDED_COLLECT_ALLOW:
                hits[key] = f"{rel}:{node.lineno} .{node.func.attr}()"
    return hits


def stale_collect_allowlist(pkg_root: str | None = None) -> set[str]:
    """Allowlist entries whose site no longer exists (hygiene)."""
    import ast  # noqa: PLC0415
    import glob as _glob  # noqa: PLC0415
    import os as _os  # noqa: PLC0415

    if pkg_root is None:
        pkg_root = _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "web_scraping_etl_pipeline_spark",
        )
    live: set[str] = set()
    for path in sorted(
        _glob.glob(_os.path.join(pkg_root, "**", "*.py"), recursive=True)
    ):
        rel = _os.path.relpath(path, pkg_root)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in DRIVER_MATERIALIZE_CALLS
            ):
                enc, enc_lo = "<module>", -1
                for lo, hi, name in spans:
                    if lo <= node.lineno <= hi and lo > enc_lo:
                        enc, enc_lo = name, lo
                live.add(f"{rel}:{enc}")
    return set(BOUNDED_COLLECT_ALLOW) - live


def audit(plan: str) -> dict:
    return {
        "xchg": len(re.findall(r"Exchange (?:hash|range)partitioning", plan)),
        "bcast": len(re.findall(r"BroadcastExchange", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "wsc": len(re.findall(r"WholeStageCodegen", plan)),
        "arrow": len(
            re.findall(
                r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
                r"|PythonUDTF|MapInArrow",
                plan,
            )
        ),
        "flags": sorted(
            name
            for name, pat in FLAG_PATTERNS.items()
            if re.search(pat, plan)
        ),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--all"]
    include_all = "--all" in sys.argv
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    names = args[1:] or sorted(QUERIES)
    if not include_all:
        names = [n for n in names if n not in STREAMING]

    # source-level lint first (no Spark needed): unadjudicated driver
    # materialization sites fail the audit like any plan flag.
    collect_hits = lint_driver_collects()
    for key, detail in sorted(collect_hits.items()):
        print(f"FLAG unadjudicated driver collect: {key} ({detail})")
    stale = stale_collect_allowlist()
    for key in sorted(stale):
        print(f"WARN stale BOUNDED_COLLECT_ALLOW entry: {key}")

    spark = get_spark(app_name="plan-audit")
    shapes, err_names, bad = audit_queries(spark, sf_dir, names)
    bad += len(collect_hits)
    print(f"\n{len(names) - bad}/{len(names)} clean")
    if collect_hits:
        print(f"{len(collect_hits)} unadjudicated driver-collect sites")
    if json_out:
        full_run = len(names) >= len(
            [n for n in QUERIES if include_all or n not in STREAMING]
        )
        if full_run:
            # rotate: last committed snapshot becomes the diff
            # baseline for the round-over-round drift gate.
            if os.path.exists(json_out):
                prev_path = os.path.join(
                    os.path.dirname(os.path.abspath(json_out)) or ".",
                    "PLANSHAPE_PREV.json",
                )
                os.replace(json_out, prev_path)
        else:
            # SUBSET runs MERGE into the existing artifact (the same
            # per-row refresh contract as oracle_check / invariance:
            # re-audit just the rewritten names in seconds instead of
            # a ~6-minute full sweep) and do NOT rotate - the PREV
            # baseline must stay the last FULL snapshot, or the drift
            # gate would compare against a mid-round partial state.
            merged = {**read_artifact(json_out), **shapes}
            # a requested name that ERRORED must not keep its prior
            # (possibly stale-green) row: drop it so the coverage pin
            # fails loudly instead of the freshness pin passing on a
            # query that can no longer even be audited.
            for n_ in err_names:
                merged.pop(n_, None)
            shapes = merged
        dump_artifact(json_out, shapes)
        print(f"wrote {json_out} ({len(shapes)} shapes)")
    return 1 if bad else 0


def audit_queries(spark, sf_dir: str, names: list[str]):
    """Audit each named query's physical plan, printing one line per
    query. Returns the PLANSHAPE rows, the names whose plan could not
    be built, and the count of flagged or errored queries."""
    bad = 0
    shapes: dict[str, dict] = {}
    err_names: list[str] = []
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )
            unbounded_hints = hint_boundedness(df)
            funnels = partition_funnels(df)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: {exc}")
            bad += 1
            err_names.append(name)
            continue
        finally:
            release_transients()
        a = audit(plan)
        if unbounded_hints:
            a["flags"].append("unbounded_broadcast")
        if funnels:
            a["flags"].append("single_partition_funnel")
        a["flags"] = [f for f in a["flags"] if f not in ALLOW.get(name, ())]
        # fingerprint of the code that produced this shape row, so the
        # PLANSHAPE freshness pin can fail on a rewritten-but-not-
        # re-audited query (the stale-row class ADVICE r10 item 4
        # named for INVARIANCE; PLANSHAPE had the same gap)
        from tools.invariance_check import body_hash  # noqa: PLC0415

        a["body_hash"] = body_hash(name)
        shapes[name] = dict(a)
        flag_note = f"  FLAGS={','.join(a['flags'])}" if a["flags"] else ""
        if a["flags"]:
            bad += 1
        print(
            f"{'FLAG' if a['flags'] else 'ok  '} {name}: "
            f"xchg={a['xchg']} bcast={a['bcast']} smj={a['smj']} "
            f"bhj={a['bhj']} wsc={a['wsc']} arrow={a['arrow']}{flag_note}"
        )
    return shapes, err_names, bad


if __name__ == "__main__":
    raise SystemExit(main())
