"""Algebraic invariants for the round-8 stattests additions
(q403-q408). The oracle comparison pins exact values; these pin what
each operator GUARANTEES by construction: Mann-Kendall's S is bounded
by the pair count and its variance matches the no-tie closed form
when ties are absent, Pettitt's U path ends at zero, Welch moments
reproduce the group means, Cliff's pair counts partition the
cross-product, Mood's cells conserve the document count, and
Durbin-Watson lands in its [0, 4] range.
"""

from __future__ import annotations

from web_scraping_etl_pipeline_spark.plans import QUERIES
from web_scraping_etl_pipeline_spark.plans.stattests import _daily

from tests.conftest import SF_DIR


def _rows(spark, name):
    return QUERIES[name](spark, SF_DIR).collect()


def test_mann_kendall_bounds(spark):
    (r,) = _rows(spark, "q403_mann_kendall")
    n = r["n_days"]
    pairs = n * (n - 1) // 2
    assert -pairs <= r["s_stat"] <= pairs
    # tie correction only ever SHRINKS the no-tie variance
    assert 0 < r["var_s_x18"] <= n * (n - 1) * (2 * n + 5)
    # z sign agrees with S (continuity correction cannot flip it)
    if r["s_stat"] > 1:
        assert r["z_score"] > 0
    if r["s_stat"] < -1:
        assert r["z_score"] < 0


def test_pettitt_u_path_closes_at_zero(spark):
    import pyspark.sql.functions as F

    (r,) = _rows(spark, "q404_pettitt_changepoint")
    daily = _daily(spark, SF_DIR).collect()
    n = len(daily)
    assert r["n_days"] == n
    # K is bounded by the pair count and the change day is interior
    assert 0 <= r["k_stat"] <= n * (n - 1) // 2
    days = sorted(d["d"] for d in daily)
    assert days[0] <= r["change_day"] < days[-1]
    # exact integer p device: -ln(p/2) in micro-nats, never negative
    assert r["neg_ln_p_micro"] == (
        6_000_000 * r["k_stat"] ** 2 // (n**3 + n**2)
    )
    # U_n = sum_j sum_i sign(...) over ALL pairs with itself = 0:
    # recompute the full path in python from the daily frame
    ys = [d["y"] for d in sorted(daily, key=lambda d: d["d"])]
    u = 0
    path = []
    for k in range(n):
        u += sum(
            (ys[k] > y) - (ys[k] < y) for y in ys
        )
        path.append(u)
    assert path[-1] == 0
    assert max(abs(v) for v in path[:-1]) == r["k_stat"]


def test_welch_moments_consistent(spark):
    (r,) = _rows(spark, "q405_welch_ttest")
    assert r["n0"] > 1 and r["n1"] > 1
    # df is bounded by the classic limits: min(n0,n1)-1 <= df <= n0+n1-2
    assert min(r["n0"], r["n1"]) - 1 <= r["df_welch"] <= r["n0"] + r["n1"] - 2
    # t and d share the mean-difference sign
    if r["mean0_milli"] != r["mean1_milli"]:
        assert (r["t_welch"] > 0) == (r["mean0_milli"] > r["mean1_milli"])
        assert (r["cohens_d"] > 0) == (r["t_welch"] > 0)


def test_cliffs_delta_partitions_pairs(spark):
    (r,) = _rows(spark, "q406_cliffs_delta")
    total = r["n0"] * r["n1"]
    assert 0 < total
    assert r["gt_pairs"] + r["lt_pairs"] <= total  # remainder = ties
    assert -1.0 <= r["cliffs_delta"] <= 1.0
    assert r["magnitude"] in {"negligible", "small", "medium", "large"}
    # the band is a function of |delta| with the documented cutpoints
    a = abs(r["gt_pairs"] - r["lt_pairs"]) * 1000
    bands = [
        (147 * total, "negligible"),
        (330 * total, "small"),
        (474 * total, "medium"),
    ]
    expect = "large"
    for cut, label in reversed(bands):
        if a < cut:
            expect = label
    assert r["magnitude"] == expect


def test_moods_median_conserves_documents(spark):
    rows = _rows(spark, "q407_moods_median")
    assert len(rows) == 20  # one row per source
    n_docs = sum(r["n_above"] + r["n_le"] for r in rows)
    # at-or-below must hold at least half the mass (median definition)
    assert 2 * sum(r["n_le"] for r in rows) >= n_docs
    assert len({r["chi2"] for r in rows}) == 1
    assert rows[0]["dof"] == len(rows) - 1
    assert rows[0]["chi2"] >= 0.0


def test_durbin_watson_range(spark):
    (r,) = _rows(spark, "q408_durbin_watson")
    assert 0.0 <= r["dw_stat"] <= 4.0
    assert abs(r["rho_approx"] - (1.0 - r["dw_stat"] / 2.0)) < 1e-5
    assert -1.0 <= r["rho_approx"] <= 1.0


def test_ccf_lag0_matches_pearson_and_bounds(spark):
    rows = sorted(_rows(spark, "q409_ccf_volume_reach"),
                  key=lambda r: r["lag_d"])
    assert [r["lag_d"] for r in rows] == [0, 1, 2, 3, 4, 5]
    n = rows[0]["n_pairs"]
    for r in rows:
        assert -1.0 - 1e-9 <= r["ccf"] <= 1.0 + 1e-9
        # lag L leaves exactly n - L matched pairs
        assert r["n_pairs"] == n - r["lag_d"]
    # lag-0 CCF of a series with itself-like positive pairing: the
    # volume/reach pair is strongly positively coupled by construction
    assert rows[0]["ccf"] > 0.0


def test_hhi_bounds_and_share_consistency(spark):
    rows = _rows(spark, "q410_hhi_concentration")
    assert rows
    for r in rows:
        # 1/n <= HHI <= 1 for n positive shares
        assert 1.0 / r["n_suppliers"] - 1e-6 <= r["hhi"] <= 1.0
        # top share bounds: at least 1/n, at most sqrt(HHI)
        assert r["top_share_milli"] >= 1000 // r["n_suppliers"] - 1
        assert (r["top_share_milli"] / 1000.0) ** 2 <= r["hhi"] + 1e-3
        assert r["total_cents"] > 0


def test_grubbs_peak_is_argmax(spark):
    (r,) = _rows(spark, "q411_grubbs_outlier")
    daily = _daily(spark, SF_DIR).collect()
    sy = sum(d["y"] for d in daily)
    n = len(daily)
    assert r["n_days"] == n
    best = max(abs(n * d["y"] - sy) for d in daily)
    assert abs(n * r["peak_count"] - sy) == best
    assert r["g_stat"] >= 0.0
    # G is bounded by (n-1)/sqrt(n) for any sample
    assert r["g_stat"] <= (n - 1) / (n**0.5) + 1e-9


def test_cmh_terms_finite_and_positive_var(spark):
    (r,) = _rows(spark, "q412_cmh_gate_association")
    assert r["n_strata"] == 20
    assert r["chi2_cmh"] >= 0.0
    assert r["or_mh"] > 0.0


def test_logrank_aa_calibration(spark):
    (r,) = _rows(spark, "q413_logrank_conversion")
    # parity split covers every user exactly once
    assert r["n_odd"] > 0 and r["n_even"] > 0
    assert 0 <= r["conversions_odd"] <= r["n_odd"]
    assert r["chi2_logrank"] >= 0.0
    # A/A: the true effect is zero; a calibrated instrument should
    # not scream (chi2 ~ chi2_1; 20 would be p ~ 1e-5 territory)
    assert r["chi2_logrank"] < 20.0


def test_jsd_bounds(spark):
    import math

    (r,) = _rows(spark, "q414_jsd_token_mix")
    assert r["n_tokens_a"] > 0 and r["n_tokens_b"] > 0
    assert r["vocab"] > 0
    # JSD in nats lives in [0, ln 2]; the micro-floor device can
    # undershoot by at most vocab/1e6 per KL term
    assert -2e-3 <= r["jsd_nats"] <= math.log(2.0) + 1e-9


def test_neyman_allocation_reconciles(spark):
    rows = _rows(spark, "q415_neyman_allocation")
    assert len(rows) == 5  # one stratum per language
    assert sum(r["alloc"] for r in rows) == 10_000
    for r in rows:
        assert r["alloc"] >= 0
        assert r["weight_micro"] > 0
        # sd_milli is w_micro / (n * 1000) by construction
        assert r["sd_milli"] == r["weight_micro"] // (r["n_docs"] * 1000)
    # Neyman beats proportional exactly where spread is larger:
    # the stratum with the max weight share gets the max allocation
    top = max(rows, key=lambda r: r["weight_micro"])
    assert top["alloc"] == max(r["alloc"] for r in rows)


def test_neardup_transitivity_counts(spark):
    (r,) = _rows(spark, "q416_neardup_transitivity")
    assert r["n_edges"] > 0
    assert r["n_closed"] <= r["n_wedges"]
    if r["n_wedges"]:
        assert r["closure_milli"] == 1000 * r["n_closed"] // r["n_wedges"]
        assert 0 <= r["closure_milli"] <= 1000


def test_seasonal_mk_bounds(spark):
    (r,) = _rows(spark, "q417_seasonal_mann_kendall")
    assert r["n_seasons"] == 7
    # within-weekday pairs only: |S| bounded by sum of per-season
    # pair counts, which is at most C(n,2) of the full series
    assert r["var_s_x18"] > 0
    assert abs(r["z_score"]) < 10


def test_turning_points_bounds(spark):
    (r,) = _rows(spark, "q418_turning_point_test")
    n = r["n_days"]
    assert 0 <= r["n_turning_points"] <= n - 2
    assert abs(r["expected_tp"] - 2.0 * (n - 2) / 3.0) < 1e-6


def test_bartels_rvn_range(spark):
    (r,) = _rows(spark, "q419_bartels_rvn")
    # RVN lives in (0, 4); 2 = independence
    assert 0.0 < r["rvn"] < 4.0
    assert r["num_x4"] > 0 and r["den_x4n2"] > 0


def test_wilcoxon_rank_sum_identity(spark):
    (r,) = _rows(spark, "q420_wilcoxon_signed_rank")
    n = r["n_pairs"]
    assert n > 0
    # W+ x2 is between 0 and 2 * n(n+1)/2 = n(n+1)
    assert 0 <= r["w_plus_x2"] <= n * (n + 1)


def test_capture_recapture_consistency(spark):
    (r,) = _rows(spark, "q421_dedup_capture_recapture")
    assert r["r_both"] <= min(r["m_lsh"], r["m_simhash"])
    # Chapman estimate is at least the union count minus rounding
    union = r["m_lsh"] + r["m_simhash"] - r["r_both"]
    assert r["chapman_milli"] >= 1000 * union - 1000 - 1
    if r["union_coverage_milli"] is not None:
        assert 0 < r["union_coverage_milli"] <= 1001


def test_within_vs_marginal_correlation(spark):
    (r,) = _rows(spark, "q422_within_source_correlation")
    assert r["m_per_source"] is not None  # balanced design held
    assert -1.0 <= r["r_marginal"] <= 1.0
    assert -1.0 <= r["r_within"] <= 1.0


def test_icc_range_and_anova_identity(spark):
    (r,) = _rows(spark, "q423_icc_score_by_source")
    assert r["m_per_source"] is not None  # balanced design held
    m = r["m_per_source"]
    # ICC(1) lives in [-1/(m-1), 1]
    assert -1.0 / (m - 1) - 1e-9 <= r["icc1"] <= 1.0
    assert r["ms_within"] > 0


def test_lexical_spectrum_identities(spark):
    rows = _rows(spark, "q424_lexical_spectrum")
    assert len(rows) == 20
    for r in rows:
        assert 0 < r["vocab"] <= r["n_tokens"]
        assert 0 <= r["hapax_milli"] <= 1000
        assert 0 <= r["sichel_milli"] <= 1000
        assert r["hapax_milli"] + r["sichel_milli"] <= 1000
        # K >= 0, and K = 0 iff every type occurs exactly once
        assert r["yule_k"] >= 0.0
        if r["hapax_milli"] == 1000 and r["vocab"] == r["n_tokens"]:
            assert r["yule_k"] == 0.0


def test_lepage_is_sum_of_squares(spark):
    (r,) = _rows(spark, "q425_ansari_bradley_lepage")
    assert r["n0"] > 0 and r["n1"] > 0
    expect = r["z_location"] ** 2 + r["z_dispersion"] ** 2
    # lepage is rounded at 4dp from the unrounded z's; allow the
    # rounding interaction
    assert abs(r["lepage"] - expect) < 1e-2
    assert r["lepage"] >= 0.0


def test_cooks_distance_ordering_and_bounds(spark):
    rows = _rows(spark, "q426_cooks_distance_days")
    assert len(rows) == 3
    ds = [r["cook_d"] for r in rows]
    assert ds == sorted(ds, reverse=True)
    for r in rows:
        assert r["cook_d"] >= 0.0
        # leverage of a simple regression lives in [1/n, 1]
        assert 0.0 < r["leverage"] <= 1.0


def test_matryoshka_recall_monotone_tendency(spark):
    rows = sorted(_rows(spark, "q427_matryoshka_prefix_recall"),
                  key=lambda r: r["prefix_dim"])
    assert [r["prefix_dim"] for r in rows] == [8, 16, 32]
    for r in rows:
        assert 0 <= r["overlap_at_k"] <= 10
        assert r["recall_milli"] == 1000 * r["overlap_at_k"] // 10


def test_rich_club_monotone_shrinkage(spark):
    rows = sorted(_rows(spark, "q428_rich_club_density"),
                  key=lambda r: r["degree_floor"])
    assert [r["degree_floor"] for r in rows] == [1, 2, 3]
    # raising the floor can only shrink the club and its edge set
    for a, b in zip(rows, rows[1:]):
        assert b["n_rich_users"] <= a["n_rich_users"]
        assert b["n_rich_items"] <= a["n_rich_items"]
        assert b["n_rich_edges"] <= a["n_rich_edges"]
    for r in rows:
        if r["density_milli"] is not None:
            assert 0 <= r["density_milli"] <= 1000
            assert (
                r["n_rich_edges"]
                <= r["n_rich_users"] * r["n_rich_items"]
            )


def test_page_hinkley_nonnegative_and_normalized(spark):
    (r,) = _rows(spark, "q429_page_hinkley")
    # the excess over the running min is nonnegative by construction
    assert r["ph_stat_micro"] >= 0
    assert r["ph_over_mean_milli"] >= 0
    daily = _daily(spark, SF_DIR).collect()
    days = sorted(d["d"] for d in daily)
    assert days[0] <= r["peak_day"] <= days[-1]


def test_james_stein_contracts_toward_grand_mean(spark):
    rows = _rows(spark, "q430_james_stein_shrinkage")
    assert len(rows) == 20
    b = rows[0]["b_plus"]
    assert len({r["b_plus"] for r in rows}) == 1
    assert 0.0 <= b <= 1.0
    raws = [r["raw_mean_milli"] for r in rows]
    grand = sum(raws) / len(raws)
    for r in rows:
        # shrunk mean lies between the raw mean and the grand mean
        lo, hi = sorted((r["raw_mean_milli"], grand))
        assert lo - 1.5 <= r["shrunk_mean_milli"] <= hi + 1.5
    # shrinkage reduces spread
    shr = [r["shrunk_mean_milli"] for r in rows]
    assert max(shr) - min(shr) <= max(raws) - min(raws)


def test_sprt_decision_consistency(spark):
    (r,) = _rows(spark, "q431_sprt_error_monitor")
    assert r["decision"] in {"accept_h1", "accept_h0", "continue"}
    if r["decision"] == "continue":
        assert r["decision_day"] is None
        assert abs(r["llr_max_micro"]) < 2_944_439 or (
            r["llr_max_micro"] < 2_944_439
        )
    else:
        assert r["decision_day"] is not None


def test_kendalls_w_range(spark):
    (r,) = _rows(spark, "q432_kendalls_w_weekday")
    # k = distinct user_id % 20 cohorts present (15 at sf0.001's
    # 15-user population, 20 from sf0.01 up); weekdays always 7
    assert 2 <= r["k_judges"] <= 20 and r["n_weekdays"] == 7
    assert 0.0 <= r["w"] <= 1.0
    # chi2_equiv = k(n-1)W by construction
    assert abs(r["chi2_equiv"] - r["k_judges"] * 6 * r["w"]) < 1e-2


def test_cronbach_alpha_bounds(spark):
    (r,) = _rows(spark, "q433_cronbach_alpha_gates")
    # alpha <= 1 always; can be negative for inconsistent items
    assert r["cronbach_alpha"] <= 1.0
    assert 0 < r["pass_len"] < r["n"]
    assert 0 < r["pass_rep"] < r["n"]


def test_gamma_somers_ordering(spark):
    (r,) = _rows(spark, "q434_gamma_somers_d")
    assert -1.0 <= r["gamma"] <= 1.0
    assert -1.0 <= r["somers_d_yx"] <= 1.0
    # |D| <= |gamma| because D adds y-ties to the denominator
    assert abs(r["somers_d_yx"]) <= abs(r["gamma"]) + 1e-9
    assert r["concordant"] >= 0 and r["discordant"] >= 0


def test_theils_u_range(spark):
    (r,) = _rows(spark, "q435_theils_u_lang_source")
    # U in [0, 1]; micro-floor slack can push epsilon outside
    assert -1e-3 <= r["theils_u"] <= 1.0 + 1e-3
    assert r["h_lang_micro_n"] > 0
    # conditioning cannot create entropy
    assert (
        r["h_lang_given_source_micro_n"]
        <= r["h_lang_micro_n"] + r["n_docs"]
    )


def test_tukey_pairs_deterministic_top(spark):
    rows = _rows(spark, "q436_tukey_pairwise_gaps")
    assert len(rows) == 10
    qs = [r["q_stat"] for r in rows]
    assert qs == sorted(qs, reverse=True)
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert r["q_stat"] >= 0.0


def test_chow_f_nonnegative(spark):
    (r,) = _rows(spark, "q437_chow_break_test")
    assert r["n_before"] + r["n_after"] == r["n_days"]
    # splitting can only reduce total SSE, so F >= 0
    assert r["chow_f"] >= -1e-9


def test_cochran_armitage_bounds(spark):
    (r,) = _rows(spark, "q438_cochran_armitage_trend")
    assert r["n_buckets"] >= 2
    assert 0 < r["n_pass"] < r["n_docs"]
    # z is finite and scale-free
    assert abs(r["z_trend"]) < 50


def test_brunner_munzel_cross_checks_cliffs_delta(spark):
    (bm,) = _rows(spark, "q439_brunner_munzel")
    (cd,) = _rows(spark, "q406_cliffs_delta")
    # p_hat = P(X0 < X1) + P(=)/2; q406 counts gt = #(v0 > v1) and
    # lt = #(v0 < v1) over the same two sources, so
    # p_hat == (lt + ties/2) / (n0*n1) exactly (up to output rounding)
    total = cd["n0"] * cd["n1"]
    ties = total - cd["gt_pairs"] - cd["lt_pairs"]
    expect = (cd["lt_pairs"] + ties / 2.0) / total
    assert abs(bm["p_hat"] - expect) < 1e-5
    assert 0.0 <= bm["p_hat"] <= 1.0
    # W shares p_hat's direction (p_hat > 1/2 <=> group 1 larger)
    if abs(bm["p_hat"] - 0.5) > 1e-4:
        assert (bm["w_bm"] > 0) == (bm["p_hat"] > 0.5)
