"""Algebraic invariants for the round-7 association/sampling/
privacy additions (q326-q332). The oracle comparison pins exact
values; these pin what each statistic GUARANTEES by construction:
correlation coefficients live in [-1, 1], Kendall's pair taxonomy is
a partition of all day pairs, the weighted sample is a proper
without-replacement draw of the advertised size, the Gini sweep
conserves counts and flags a true argmin, the jackknife replicates
average back to a value consistent with the corpus mean, the
out-of-fold encoder never sees its own fold, and the ordered EMD is
a distance (bounded, zero iff distributions coincide).
"""

from __future__ import annotations

from web_scraping_etl_pipeline_spark.plans import QUERIES

from tests.conftest import SF_DIR


def _rows(spark, name):
    return QUERIES[name](spark, SF_DIR).collect()


def test_spearman_bounds_and_coverage(spark):
    rows = _rows(spark, "q326_spearman_rank_corr")
    assert len(rows) > 0
    for r in rows:
        assert -1.0 <= r["rho_spearman"] <= 1.0, r
        assert r["n_docs"] > 0


def test_kendall_pair_taxonomy_partitions(spark):
    (r,) = _rows(spark, "q327_kendall_tau_daily")
    n = r["n_days"]
    total_pairs = n * (n - 1) // 2
    assert (
        r["concordant"]
        + r["discordant"]
        + r["ties_x"]
        + r["ties_y"]
        + r["ties_both"]
        == total_pairs
    )
    assert -1.0 <= r["tau_b"] <= 1.0


def test_weighted_sample_is_proper_draw(spark):
    rows = _rows(spark, "q328_weighted_sample")
    assert len(rows) == 64
    ids = [r["doc_id"] for r in rows]
    assert len(set(ids)) == 64  # without replacement
    for r in rows:
        assert r["weight"] >= 1
        assert r["sample_key"] <= 0.0  # ln(u)/w, u in (0,1)


def test_gini_sweep_conserves_and_flags_argmin(spark):
    rows = _rows(spark, "q329_gini_stump_split")
    assert len(rows) > 1
    totals = {r["n_left"] + r["n_right"] for r in rows}
    assert len(totals) == 1  # every split partitions the same corpus
    pos_totals = {r["pos_left"] + r["pos_right"] for r in rows}
    assert len(pos_totals) == 1
    best = min(r["gini"] for r in rows)
    for r in rows:
        # two-class Gini of a split is bounded by 0.5
        assert 0.0 <= r["gini"] <= 0.5
        assert r["is_best"] == (1 if r["gini"] == best else 0)
    assert sum(r["is_best"] for r in rows) >= 1


def test_jackknife_replicates_consistent(spark):
    rows = _rows(spark, "q330_jackknife_group_mean")
    assert len(rows) > 1
    assert len({r["corpus_mean"] for r in rows}) == 1
    assert len({r["jackknife_se"] for r in rows}) == 1
    (se,) = {r["jackknife_se"] for r in rows}
    assert se >= 0.0
    (mean,) = {r["corpus_mean"] for r in rows}
    lo = min(r["loo_mean"] for r in rows)
    hi = max(r["loo_mean"] for r in rows)
    # the full-corpus mean is a convex combination of leave-one-out
    # means, so it lies inside their envelope
    assert lo - 1e-6 <= mean <= hi + 1e-6


def test_target_encoding_out_of_fold(spark):
    rows = _rows(spark, "q331_target_encoding")
    assert len(rows) > 0
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, rs in by_source.items():
        n_c = {r["n_in_fold"] + r["n_out_fold"] for r in rs}
        assert len(n_c) == 1, source  # folds partition the category
        for r in rs:
            assert r["n_out_fold"] > 0
            # the milli-unit score lives in [0, 1000]; so must any
            # mean of it, raw or shrunk toward the global prior
            assert 0.0 <= r["enc_raw"] <= 1000.0
            assert 0.0 <= r["enc_smoothed"] <= 1000.0


def test_negative_sampling_table_is_a_cdf(spark):
    rows = sorted(
        _rows(spark, "q333_negative_sampling_table"),
        key=lambda r: r["rank"],
    )
    assert len(rows) > 0
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    cum = [r["cum_prob"] for r in rows]
    assert cum == sorted(cum)  # monotone CDF
    assert abs(cum[-1] - 1.0) <= 1e-5
    assert abs(sum(r["prob"] for r in rows) - 1.0) <= 1e-3
    for r in rows:
        assert r["prob"] > 0.0


def test_jl_distortion_concentrates_near_one(spark):
    rows = _rows(spark, "q334_jl_projection_distortion")
    # all unordered pairs of the 32-vector probe sample
    assert len(rows) == 32 * 31 // 2
    vals = [r["distortion"] for r in rows if r["distortion"] is not None]
    assert len(vals) > 0
    for r in rows:
        assert r["proj_sq"] >= 0 and r["orig_sq"] >= 0
        if r["distortion"] is not None:
            assert r["within_half"] == (
                1 if 0.5 <= r["distortion"] <= 1.5 else 0
            )
    # the JL lemma's whole point: the MEAN ratio over pairs sits
    # near 1 (each projected coordinate has variance = the original
    # squared distance); 3-sigma slack for k=16
    mean = sum(vals) / len(vals)
    assert 0.5 < mean < 1.5, mean


def test_t_closeness_emd_is_bounded_distance(spark):
    rows = _rows(spark, "q332_t_closeness")
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r["emd"] <= 1.0, r
        assert r["t_violation"] == (1 if r["emd"] > 0.2 else 0)
        assert r["group_size"] > 0
