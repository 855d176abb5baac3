"""Degenerate-input guard pins (VERDICT r10 item 3).

The failure class: an unguarded integer division whose denominator is
only nonzero on realistic corpora. On a degenerate input (<=1
document) Spark's ``DIV`` yields NULL while DuckDB's ``//`` raises -
the twins silently diverge exactly where no driver fixture can reach.
Round 10 closed the two known instances (q440 ``expected_milli`` now
guarded by ``n_docs > 1`` on BOTH engines; q421's coverage guard is
literally the oracle's ``> 0`` predicate). This suite pins the CLASS:
both queries must produce IDENTICAL, error-free results on 0-doc and
1-doc corpora on both engines.

Comparison goes through the same pandas fetch + normalization the
driver gate uses (``tools.oracle_check``), so a NULL-vs-error or a
type-level divergence fails loudly here instead of waiting for a
hostile fixture.
"""

from __future__ import annotations

import duckdb
import pytest

from tools.oracle_check import frame_to_rows, pandas_rows
from web_scraping_etl_pipeline_spark.plans import ORACLE, QUERIES
from web_scraping_etl_pipeline_spark.plans.common import release_transients

#: the two queries VERDICT r10 item 3 names, plus every column that
#: must be NULL (guarded) rather than an error on a <=1-doc corpus.
GUARDED = {
    "q440_neardup_split_leakage": ["leak_milli", "expected_milli"],
    "q421_dedup_capture_recapture": ["union_coverage_milli"],
}


@pytest.fixture(params=[0, 1], ids=["zero-docs", "one-doc"])
def tiny_corpus(request, tmp_path):
    """documents.parquet with 0 or 1 rows - below every denominator
    (n_pairs, n_docs*(n_docs-1), chapman overlap) in the guarded
    expressions."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    if request.param == 1:
        text = "a single document about distributed query engines"
        con.execute(
            "INSERT INTO d VALUES (9, ?, 'en', 'web', ?)", [text, len(text)]
        )
    con.execute(f"COPY d TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    yield str(tmp_path)
    release_transients()


@pytest.mark.parametrize("name", sorted(GUARDED))
def test_guarded_division_agrees_on_degenerate_corpus(
    spark, tiny_corpus, name
):
    spdf = QUERIES[name](spark, tiny_corpus).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tiny_corpus}/documents.parquet')"
    )
    dpdf = con.execute(ORACLE[name]).df()  # must NOT raise
    con.close()
    sc, sr = frame_to_rows(list(spdf.columns), pandas_rows(spdf))
    dc, dr = frame_to_rows(list(dpdf.columns), pandas_rows(dpdf))
    assert sc == dc
    assert sr == dr
    # and the guard actually fired: the ratio columns are NULL, not 0
    # and not an exception, on both engines identically.
    assert len(sr) == 1
    row = dict(zip(sc, sr[0]))
    # NULL surfaces as None, or as normalized "NaN" when pandas
    # float64-izes a nullable BIGINT column (the r04/q230 class the
    # driver-faithful fetch path exists to expose) - both mean SQL
    # NULL here; anything else means the guard silently vanished.
    for col in GUARDED[name]:
        assert row[col] in (None, "NaN"), (col, row)


#: round 12 (VERDICT r11 item 3): every construction-collect operator
#: now carries a degenerate early-out returning its oracle's own
#: empty-input output. The early-out's DDL is hand-declared, so this
#: pin proves it can never drift from the real plan's schema: on an
#: EMPTY star fixture each query must produce exactly the column
#: names and types the non-degenerate plan produces on real data.
EARLY_OUT_QUERIES = [
    "q50_cosine_topk", "q51_ann_lsh_topk", "q54_ivf_topk",
    "q156_quantized_rerank", "q177_pagerank", "q184_multiprobe_ann",
    "q225_hybrid_rrf", "q257_ndcg_eval", "q269_greedy_coverage",
    "q283_rank_agreement_rbo", "q284_mmr_rerank",
    "q303_power_iteration_pca", "q319_logreg_quality_gd",
    "q325_greedy_lm_decode", "q339_adaboost_stumps",
    "q362_kcenter_coreset", "q427_matryoshka_prefix_recall",
    "q75_unpivot_roundtrip",
]


@pytest.fixture(scope="module")
def empty_star(tmp_path_factory):
    from tools.fixtures import build

    out = str(tmp_path_factory.mktemp("sf_empty_star"))
    build("empty", out)
    return out


@pytest.mark.parametrize("name", EARLY_OUT_QUERIES)
def test_degenerate_early_out_schema_matches_real_plan(
    spark, empty_star, name
):
    try:
        real = QUERIES[name](spark, "/root/testdata/sf0.001").schema
    finally:
        release_transients()
    try:
        degen = QUERIES[name](spark, empty_star).schema
    finally:
        release_transients()
    # nullability is representation, not contract (the driver's
    # pandas fetch erases it); names + types must be identical
    assert [(f.name, f.dataType) for f in degen] == [
        (f.name, f.dataType) for f in real
    ]
