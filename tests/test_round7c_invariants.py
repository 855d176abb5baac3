"""Algebraic invariants for the round-7 session-3 additions
(q350-q368). The oracle comparison pins exact values; these pin what
each operator GUARANTEES by construction: blocking metrics are proper
ratios, attribution credit is conserved per conversion, the conformal
rank follows the finite-sample formula, greedy k-center radii are
non-increasing, DBSCAN partitions the point set, QTE deciles are
monotone, the optimal segmentation tiles the value domain, and the
PR sweep's counts are consistent cumulatives.
"""

from __future__ import annotations

from web_scraping_etl_pipeline_spark.plans import QUERIES

from tests.conftest import SF_DIR


def _rows(spark, name):
    return QUERIES[name](spark, SF_DIR).collect()


def test_blocking_quality_ratios(spark):
    (r,) = _rows(spark, "q350_blocking_quality")
    assert r["total_pairs"] == r["n_docs"] * (r["n_docs"] - 1) // 2
    assert 0.0 <= r["pairs_completeness"] <= 1.0
    assert 0.0 <= r["reduction_ratio"] <= 1.0
    assert r["n_caught"] <= r["n_true_pairs"]
    assert r["n_cands"] <= r["total_pairs"]


def test_zone_map_counts_conserved(spark):
    rows = _rows(spark, "q351_zone_map_pruning")
    assert len(rows) > 0
    totals = {r["rows_skipped"] + r["rows_scanned"] for r in rows}
    assert len(totals) == 1  # every cutoff partitions the same table
    # pruning is monotone in the cutoff date
    for a, b in zip(
        sorted(rows, key=lambda r: r["cutoff"]),
        sorted(rows, key=lambda r: r["cutoff"])[1:],
    ):
        assert b["rows_skipped"] >= a["rows_skipped"]


def test_gini_bounds(spark):
    rows = _rows(spark, "q352_token_gini_by_source")
    assert rows
    for r in rows:
        assert 0.0 <= r["gini"] < 1.0, r


def test_attribution_credit_conserved(spark):
    rows = _rows(spark, "q353_u_shaped_attribution")
    assert {r["channel"] for r in rows} <= {"click", "view"}
    total = sum(r["credit_micro"] for r in rows)
    # every attributed conversion contributes exactly 10M micro-units
    assert total % 10_000_000 == 0 and total > 0
    assert abs(sum(r["credit_share"] for r in rows) - 1.0) < 1e-5


def test_did_cells_populated(spark):
    (r,) = _rows(spark, "q354_did_readout")
    for c in ("n_treat_pre", "n_treat_post", "n_ctrl_pre", "n_ctrl_post"):
        assert r[c] > 0
    assert r["did_micro"] == (
        r["treat_post_micro"] - r["treat_pre_micro"]
    ) - (r["ctrl_post_micro"] - r["ctrl_pre_micro"])


def test_conformal_rank_formula_and_coverage(spark):
    (r,) = _rows(spark, "q356_conformal_coverage")
    n_cal = r["n_cal"]
    assert r["k"] == min((9 * (n_cal + 1) + 9) // 10, n_cal)
    assert r["n_covered"] <= r["n_test"]
    # finite-sample: a single split can dip below nominal, but not
    # collapse - and qhat is a real residual, so coverage > 0
    assert 0.5 <= r["coverage"] <= 1.0


def test_holt_recursion_matches_reference(spark):
    rows = sorted(_rows(spark, "q357_holt_trend_forecast"),
                  key=lambda r: r["day_idx"])
    assert rows[0]["err_micro"] is None

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    l = rows[0]["l_micro"]
    b = rows[0]["b_micro"]
    for r in rows[1:]:
        assert r["err_micro"] == abs(r["y"] * 1_000_000 - (l + b))
        l_new = tdiv(r["y"] * 1_000_000, 2) + tdiv(l + b, 2)
        b_new = tdiv(l_new - l, 2) + tdiv(b, 2)
        assert (r["l_micro"], r["b_micro"]) == (l_new, b_new)
        l, b = l_new, b_new


def test_apriori_downward_closure(spark):
    tri = _rows(spark, "q358_apriori_triples")
    for r in tri:
        assert r["t1"] < r["t2"] < r["t3"]
        assert r["support"] > 0


def test_viterbi_dominates_single_state_chains(spark):
    # the optimal path's score is >= any fixed-state path's score,
    # in particular >= staying in state 0 or state 1 throughout.
    from web_scraping_etl_pipeline_spark.plans.inference import (
        _VIT_EMIT,
        _VIT_MAXLEN,
        _VIT_STAY,
    )
    from web_scraping_etl_pipeline_spark.plans.common import t as _t
    from pyspark.sql import functions as F

    rows = {r["user_id"]: r for r in _rows(spark, "q359_viterbi_sessions")}
    ev = (
        _t(spark, SF_DIR, "events")
        .orderBy("ts_us", "event_id")
        .select("user_id", "event_type")
        .collect()
    )
    seqs: dict = {}
    for r in ev:
        seqs.setdefault(r["user_id"], [])
        if len(seqs[r["user_id"]]) < _VIT_MAXLEN:
            seqs[r["user_id"]].append(r["event_type"])
    for uid, seq in seqs.items():
        for state in (0, 1):
            emit = _VIT_EMIT[state]
            default = min(emit.values())
            fixed = sum(emit.get(x, default) for x in seq) + _VIT_STAY * (
                len(seq) - 1
            )
            assert rows[uid]["score"] >= fixed, (uid, state)


def test_dbscan_partitions_points(spark):
    rows = _rows(spark, "q360_dbscan_grid")
    from web_scraping_etl_pipeline_spark.plans.common import t as _t

    n_pts = _t(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_total"] for r in rows) == n_pts
    noise = [r for r in rows if r["cluster_id"] == -1]
    assert len(noise) == 1 and noise[0]["n_core"] == 0


def test_beam_is_sorted_and_scores_monotone(spark):
    rows = _rows(spark, "q361_beam_search_decode")
    by_step: dict = {}
    for r in rows:
        by_step.setdefault(r["step"], []).append(r)
    for step, beam in by_step.items():
        ranks = sorted(r["rank"] for r in beam)
        assert ranks == list(range(1, len(beam) + 1))
        b = sorted(beam, key=lambda r: r["rank"])
        for x, y in zip(b, b[1:]):
            assert (x["score_ppm"], ) >= (y["score_ppm"], )
        for r in beam:
            assert len(r["seq"].split()) == step


def test_kcenter_radii_nonincreasing(spark):
    rows = sorted(_rows(spark, "q362_kcenter_coreset"),
                  key=lambda r: r["step"])
    assert rows[0]["radius_sq"] is None
    radii = [r["radius_sq"] for r in rows[1:]]
    for a, b in zip(radii, radii[1:]):
        assert a >= b  # greedy max-min radius can only shrink
    assert len({r["center_id"] for r in rows}) == len(rows)


def test_qte_deciles_monotone(spark):
    rows = sorted(_rows(spark, "q363_quantile_treatment_effect"),
                  key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 10))
    for a, b in zip(rows, rows[1:]):
        assert b["treat_q_micro"] >= a["treat_q_micro"]
        assert b["ctrl_q_micro"] >= a["ctrl_q_micro"]


def test_permutation_p_value_range(spark):
    (r,) = _rows(spark, "q364_permutation_test")
    assert 0.0 < r["p_value"] <= 1.0
    assert 0 <= r["n_extreme"] <= r["n_perms"]


def test_segmentation_tiles_domain(spark):
    rows = sorted(_rows(spark, "q365_optimal_1d_segmentation"),
                  key=lambda r: r["seg_id"])
    from web_scraping_etl_pipeline_spark.plans.common import t as _t

    docs = _t(spark, SF_DIR, "documents")
    n_docs = docs.count()
    lo = docs.agg({"n_chars": "min"}).first()[0]
    hi = docs.agg({"n_chars": "max"}).first()[0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert rows[0]["lo_x"] == lo and rows[-1]["hi_x"] == hi
    for a, b in zip(rows, rows[1:]):
        assert a["hi_x"] < b["lo_x"]  # contiguous, disjoint segments
    for r in rows:
        assert r["cost_scaled"] >= 0


def test_pr_curve_cumulative_consistency(spark):
    rows = sorted(_rows(spark, "q366_pr_curve"), key=lambda r: r["thr"])
    p_totals = {r["tp"] + r["fn"] for r in rows}
    assert len(p_totals) == 1
    for a, b in zip(rows, rows[1:]):
        assert b["tp"] >= a["tp"] and b["fp"] >= a["fp"]
        assert b["recall_"] >= a["recall_"]
    assert abs(rows[-1]["recall_"] - 1.0) < 1e-9


def test_mcnemar_cells_partition(spark):
    (r,) = _rows(spark, "q367_mcnemar_gates")
    from web_scraping_etl_pipeline_spark.plans.common import t as _t

    n_docs = _t(spark, SF_DIR, "documents").count()
    assert r["a"] + r["b"] + r["c"] + r["d"] == n_docs
    assert r["mcnemar_chi2"] >= 0.0


def test_overdispersion_positive(spark):
    rows = _rows(spark, "q368_overdispersion_audit")
    assert len(rows) == 5
    for r in rows:
        assert r["dispersion_index"] >= 0.0
        assert r["mean_milli"] * r["n_days"] <= 1000 * r["total"]


def test_shapley_efficiency(spark):
    rows = _rows(spark, "q369_gate_shapley")
    assert {r["gate"] for r in rows} == {"len", "repetition", "stopword"}
    from web_scraping_etl_pipeline_spark.plans.common import t as _t

    docs = _t(spark, SF_DIR, "documents")
    n_docs = docs.count()
    kept = QUERIES["q84_quality_filter"](spark, SF_DIR).filter(
        "kept"
    ).count()
    # efficiency: marginal contributions sum exactly to total removals
    # NOTE q369's integer gates differ from q84's float gates only at
    # exact rational boundaries; sum(6*phi) = 6*(v(N) - v0) always.
    total_sixths = sum(r["phi_sixths"] for r in rows)
    assert total_sixths % 6 == 0
    assert all(r["phi_sixths"] <= 0 for r in rows)  # gates only remove
    assert -total_sixths // 6 <= n_docs
    assert kept >= 0  # q84 parity sanity (same family of rules)


def test_join_cardinality_exact_keys(spark):
    rows = {r["join_pair"]: r for r in
            _rows(spark, "q370_join_cardinality_audit")}
    # orders.o_orderkey is unique: estimate == actual, q_error == 1
    r = rows["orders*lineitem"]
    assert r["ndv_left"] == r["n_left"]
    assert r["est_rows"] == r["actual_rows"]
    assert abs(r["q_error"] - 1.0) < 1e-9
    for r in rows.values():
        assert r["q_error"] >= 1.0


def test_wilson_bounds_bracket_rate(spark):
    rows = _rows(spark, "q372_wilson_ci_by_source")
    assert rows
    for r in rows:
        assert 0.0 <= r["wilson_lo"] <= r["fail_rate"] <= r["wilson_hi"] <= 1.0


def test_count_sketch_two_sided_error(spark):
    rows = _rows(spark, "q371_count_sketch")
    assert len(rows) == 15
    for r in rows:
        assert r["err"] == r["est_median"] - r["exact_cnt"]
    # two-sided by design: unlike CMS, under-estimates are possible;
    # at minimum the estimator is not uniformly inflating by the
    # full colliding mass (median cancels signed collisions)
    assert any(r["err"] <= 0 for r in rows) or all(
        abs(r["err"]) < r["exact_cnt"] for r in rows
    )


def test_entropy_rate_bounds(spark):
    (r,) = _rows(spark, "q375_markov_entropy_rate")
    import math

    # 0 <= H <= ln(5) nats (5 event types)
    assert 0 <= r["entropy_rate_micro_nats"] <= math.log(5) * 1e6 + 1
    assert r["n_cells"] <= 25


def test_modularity_bounds_and_cover(spark):
    rows = _rows(spark, "q376_label_modularity")
    assert len(rows) == 10
    q = sum(r["q_contrib"] for r in rows)
    assert -0.5 - 1e-6 <= q <= 1.0 + 1e-6
    from web_scraping_etl_pipeline_spark.plans.common import t as _t

    n = _t(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_nodes"] for r in rows) == n


def test_theil_sen_pair_count(spark):
    (r,) = _rows(spark, "q377_theil_sen_trend")
    # n_pairs == C(D, 2) for D observed days
    import math

    d = int((1 + math.isqrt(1 + 8 * r["n_pairs"])) // 2)
    assert d * (d - 1) // 2 == r["n_pairs"]


def test_topk_churn_bounds(spark):
    rows = _rows(spark, "q378_topk_churn")
    assert rows
    for r in rows:
        assert 0 <= r["n_common"] <= 5
        assert 0.0 <= r["jaccard"] <= 1.0


def test_hits_scores_normalized(spark):
    rows = _rows(spark, "q379_hits_hubs_authorities")
    kinds = {}
    for r in rows:
        kinds.setdefault(r["kind"], []).append(r)
    assert set(kinds) == {"authority", "hub"}
    for k, rs in kinds.items():
        assert max(r["score_micro"] for r in rs) == 1_000_000
        for r in rs:
            assert 0 <= r["score_micro"] <= 1_000_000


def test_holt_winters_recursion_reference(spark):
    rows = sorted(_rows(spark, "q380_holt_winters"),
                  key=lambda r: r["day_idx"])
    assert rows[0]["err_micro"] is None
    # err at each step uses the PRE-update state: recompute is in the
    # oracle; here pin the structural invariants
    for r in rows[1:]:
        assert r["err_micro"] >= 0
    assert len(rows) >= 2


def test_association_rules_bounds(spark):
    rows = _rows(spark, "q381_association_rules")
    assert rows
    for r in rows:
        assert 0.87 - 1e-9 <= r["confidence"] <= 1.0
        assert r["lift"] > 0
        assert r["ant1"] != r["cons"] and r["ant2"] != r["cons"]


def test_lof_positive_scores(spark):
    rows = _rows(spark, "q382_lof_outliers")
    assert len(rows) == 10
    for r in rows:
        assert r["lof"] > 0 and r["sreach"] > 0
    lofs = [r["lof"] for r in rows]
    assert lofs == sorted(lofs, reverse=True)


def test_assortativity_bounds(spark):
    (r,) = _rows(spark, "q383_degree_assortativity")
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_edge_ends"] % 2 == 0  # both orderings of each edge


def test_haar_levels_present(spark):
    rows = {r["level"]: r for r in _rows(spark, "q384_haar_energy")}
    assert set(rows) == {1, 2, 3, 4, 5}
    for lvl, r in rows.items():
        assert r["energy"] >= 0
        assert r["max_abs_coeff"] * r["max_abs_coeff"] <= r["energy"]
        assert r["n_blocks"] <= 32 // (2 ** lvl)


def test_session_gap_monotone(spark):
    rows = sorted(_rows(spark, "q385_session_gap_sweep"),
                  key=lambda r: r["gap_us"])
    assert len(rows) == 3
    n_events = {r["n_events"] for r in rows}
    assert len(n_events) == 1
    for a, b in zip(rows, rows[1:]):
        assert b["n_sessions"] <= a["n_sessions"]  # wider gap merges


def test_silhouette_bounds(spark):
    rows = _rows(spark, "q386_silhouette_sq")
    assert len(rows) == 10
    for r in rows:
        assert -1000 <= r["avg_silhouette_milli"] <= 1000


def test_ch_index_consistency(spark):
    (r,) = _rows(spark, "q387_calinski_harabasz")
    assert r["n_clusters"] == 10
    assert r["w_ssq"] > 0 and r["b_ssq"] >= 0
    assert r["ch_index"] >= 0.0


def test_davies_bouldin_positive(spark):
    (r,) = _rows(spark, "q388_davies_bouldin")
    assert r["n_clusters"] == 10
    assert 0 < r["db_milli"] <= r["max_pair_milli"]


def test_cluster_agreement_bounds(spark):
    (r,) = _rows(spark, "q389_cluster_agreement")
    assert 0.0 < r["purity"] <= 1.0
    assert 0.0 <= r["nmi"] <= 1.0 + 1e-6
    # purity is at least the share of the largest truth class
    assert r["purity"] >= 1.0 / 10 - 1e-9


def test_cochrans_q_nonneg(spark):
    (r,) = _rows(spark, "q390_cochrans_q")
    assert r["cochrans_q"] >= 0.0
    for c in ("pass_len", "pass_rep", "pass_stop"):
        assert 0 <= r[c] <= r["n"]


def test_mcc_bounds_and_cells(spark):
    (r,) = _rows(spark, "q391_mcc_gate")
    assert -1.0 <= r["mcc"] <= 1.0
    from web_scraping_etl_pipeline_spark.plans.common import t as _t

    n = _t(spark, SF_DIR, "documents").count()
    assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == n


def test_runs_test_consistency(spark):
    (r,) = _rows(spark, "q392_runs_test")
    assert 1 <= r["n_runs"] <= r["n_above"] + r["n_below"]
    assert r["expected_runs"] >= 1.0


def test_friedman_rank_sums_conserve(spark):
    rows = _rows(spark, "q393_friedman_test")
    assert len(rows) == 5
    # per day the doubled midranks over k=5 types sum to k(k+1) = 30,
    # so total rank mass = 30 * n_days; n_days from any mean_rank row
    total = sum(r["rank_sum_x2"] for r in rows)
    assert total % 30 == 0
    for r in rows:
        assert r["friedman_chi2"] >= -1e-9


def test_friedman_densify_completes_incomplete_blocks(spark):
    # ADVICE r7 (medium): a (day, type) cell with zero events must
    # still occupy a rank cell. Synthetic incomplete block: type 'c'
    # has no events on day 2 - densification must zero-fill it so
    # every day ranks k=3 types and n_days is uniform.
    from web_scraping_etl_pipeline_spark.plans.inference import (
        _densify_blocks,
    )

    daily0 = spark.createDataFrame(
        [
            (1, "a", 5), (1, "b", 3), (1, "c", 1),
            (2, "a", 4), (2, "b", 2),  # 'c' missing on day 2
        ],
        "d long, ty string, y long",
    )
    dense = _densify_blocks(daily0).collect()
    assert len(dense) == 6  # 2 days x 3 types, complete
    filled = [r for r in dense if r["d"] == 2 and r["ty"] == "c"]
    assert len(filled) == 1 and filled[0]["y"] == 0
    # n_days uniform by construction
    from collections import Counter

    per_type = Counter(r["ty"] for r in dense)
    assert set(per_type.values()) == {2}
