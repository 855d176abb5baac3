"""Structural invariants for the round-7 operators (q300-q314).

The oracle comparison pins exact values; these pin the ALGEBRAIC
properties that must hold on any data - the guarantees each algorithm
advertises (CMS one-sided error, BPE monotone token reduction, bootstrap
interval ordering, NTILE balance) - so a future refactor that stays
value-correct on this generator but breaks a guarantee still fails.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from web_scraping_etl_pipeline_spark.plans import QUERIES

from tests.conftest import SF_DIR


def _rows(spark, name):
    return QUERIES[name](spark, SF_DIR).collect()


def test_bpe_merge_table_shape(spark):
    rows = _rows(spark, "q300_bpe_train_loop")
    assert [r["merge_rank"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        left, right = r["pair"].split(" ")
        assert left and right
        assert r["cnt"] > 0


def test_tokenizer_fertility_bounds(spark):
    # merges only ever SHRINK a word's symbol count: 1 <= fertility
    # (tokens per word) and chars_per_token >= 1 (a token is >= 1 char).
    for r in _rows(spark, "q301_tokenizer_fertility"):
        assert r["n_tokens"] <= r["n_chars"], r
        assert r["n_tokens"] >= r["n_words"], r
        assert r["fertility"] >= 1.0
        assert r["chars_per_token"] >= 1.0


def test_cms_overestimate_is_one_sided(spark):
    # the Count-Min guarantee: estimate >= exact, always.
    for r in _rows(spark, "q302_count_min_sketch"):
        assert r["overestimate"] >= 0, r
        assert r["cms_estimate"] >= r["exact_cnt"], r


def test_power_iteration_unit_vector(spark):
    rows = _rows(spark, "q303_power_iteration_pca")
    assert len(rows) == 64
    ss = sum(r["loading"] ** 2 for r in rows)
    # loadings are 5dp-rounded: worst-case drift 64 * 2|v| * 5e-6 ~ 1e-3
    assert abs(ss - 1.0) < 1e-3
    assert rows[0]["eigenvalue"] > 0


def test_phrase_search_hits_positive(spark):
    rows = _rows(spark, "q304_phrase_search")
    assert rows, "argmax phrase must occur somewhere"
    assert all(r["n_hits"] >= 1 for r in rows)


def test_kmeans_partitions_all_vectors(spark):
    rows = _rows(spark, "q306_kmeans_lloyd")
    total = QUERIES["q306_kmeans_lloyd"].__globals__["t"](
        spark, SF_DIR, "embeddings"
    ).count()
    by_cluster = {}
    for r in rows:
        by_cluster[r["cluster"]] = r["n_members"]
    assert sum(by_cluster.values()) == total
    assert 1 <= len(by_cluster) <= 4


def test_correlations_in_range(spark):
    for r in _rows(spark, "q307_signal_correlations"):
        for c in ("r_chars_tokens", "r_chars_score", "r_tokens_score"):
            assert -1.0 <= r[c] <= 1.0, (c, r)


def test_ols_r_squared_in_range(spark):
    for r in _rows(spark, "q308_ols_score_on_tokens"):
        assert 0.0 <= r["r_squared"] <= 1.0, r


def test_vocab_overlap_jaccard_bounds(spark):
    rows = _rows(spark, "q309_source_vocab_overlap")
    for r in rows:
        assert r["src_a"] < r["src_b"]  # upper triangle only
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["n_common"] <= min(r["vocab_a"], r["vocab_b"])


def test_length_buckets_balanced_and_ordered(spark):
    rows = sorted(
        _rows(spark, "q312_length_bucketing"), key=lambda r: r["bucket"]
    )
    assert len(rows) == 8
    counts = [r["n_docs"] for r in rows]
    assert max(counts) - min(counts) <= 1  # exact NTILE balance
    for a, b in zip(rows, rows[1:]):
        assert a["max_len"] <= b["min_len"]  # buckets are length-ordered
    for r in rows:
        assert 0.0 <= r["padding_pct"] < 1.0


def test_bootstrap_interval_ordered(spark):
    for r in _rows(spark, "q314_poisson_bootstrap"):
        assert r["ci_lo"] <= r["ci_hi"], r
        assert r["ci_lo"] > 0


def test_bradley_terry_strengths(spark):
    rows = _rows(spark, "q315_bradley_terry_sources")
    assert rows
    total = sum(r["bt_strength"] for r in rows)
    assert abs(total - 1.0) < 1e-3  # normalized each MM round
    for r in rows:
        # a source that loses every duel has MLE strength exactly 0
        # (BT without regularization) - the lower bound is inclusive.
        assert 0.0 <= r["bt_strength"] < 1.0
        assert 0 <= r["n_wins"] <= r["n_duels"]
        if r["n_wins"] == 0:
            assert r["bt_strength"] == 0.0
