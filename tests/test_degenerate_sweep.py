"""Degenerate-fixture sweep pins.

``tools/fixtures.py NAME`` builds each fixture in
``tools.fixtures.FIXTURES`` and sweeps every registered query and its
DuckDB oracle over it into section NAME of DEGENERATE_SWEEP.json. The
contract, per fixture: every registered query is in the section, and
each row is green, fresh against the query's body and oracle hashes,
or carries a ledger row below with its reason class (no silent caps).
Ledger rows are never in-contract divergences: every ledgered name is
green at the three real scale factors.

What each fixture found and fixed before its ledger was written:

- empty (0 rows, r11): 34 divergences; 16 fixed with guards that are
  no-ops on real data (guard-parity CASEs for ANSI divisions, COALESCE
  for NULL-vs-0 count desyncs, HAVING COUNT(*) > 0 for the
  rollup-grand-total-on-empty engine difference, typed empty frames
  for the pipeline probes' empty-scrape-day path). The other 18 -
  construction-collect driver loops (query vectors, centroids,
  vocabulary, greedy seeds) and q75's data-derived unpivot columns -
  got construction-time early-outs in r12 that return the oracle's
  own empty-input output. No ledger.
- 1row (r11): started at 383/436; 49 of the 53 failures were Spark
  ANSI division erroring where DuckDB NULLs when an n=1 input zeroes a
  variance/df/denominator, fixed with NULLIF guard parity; q177 (no
  edges from one event) and q269/q284 (greedy loops now stop when
  candidates run out, like the oracle's empty tail CTEs) were the last
  three. No ledger.
- const (r12): seven divergences, all fixed with guard parity (Spark's
  native ``corr`` ANSI-errors on a zero-variance group where DuckDB
  NULLs -> explicit covar/NULLIF(sd*sd) ratio in q64/q140; zero-
  interval time-weights q134; zero-distance JL/LOF ratios q334/q382;
  one-class LN prior q337; zero-total Neyman weights q415). No ledger.
- text (r12): eight divergences, all fixed (trim-vs-strip tokenizer
  parity q126, byte-vs-char phash q159, array_to_string-on-empty NULL
  q300/q301, NULLIF on zero-token/zero-weight/zero-tie denominators
  q31/q44/q105/q324/q327). Every string a scraper could emit is
  in-contract document content. No ledger.
- null (r13): ~53 divergences across five classes, every one fixed on
  both engines (Python-worker None crashes, DuckDB concat/split_part
  NULL quirks, NULL-ordering pins, null-safe joins for NULL-keyed
  groups, listwise-deletion policy across the rank/stats family). An
  incomplete scraped record is in-contract input. No ledger.
- allnull (r14): seven divergences, all in the gate/agreement family
  and fixed on both engines (per-cell when/otherwise parity with
  CASE...ELSE 0 in q367/q369/q390/q391/q433, NULLIF on the
  perfect-agreement Fleiss kappa and zero-cell MCC/McNemar/Cochran
  denominators, q319's listwise feature deletion stated in both the
  Spark filter and the oracle WHERE). No ledger.
- signcancel (r14): four divergences, all the share/growth/allocation
  family dividing by a zero-net sum (Spark ANSI error vs DuckDB
  NULL): q102's per-order quantity total, q137's prior-month revenue,
  q163's region/grand totals, q92's grand total - NULLIF on both
  engines (a share against a zero-net base is NULL). No ledger.
- dup (r12): the key-violating corpus; PK_DUP below.
- extreme (r13): five defect classes fixed (34 day/week-bucket oracles
  moved to common.fdiv_sql for DuckDB ``//``'s truncation vs the Spark
  twins' floor; q88's under-specified SCD2 version window; q164's
  unguarded price division; q276's lateral unit fan-out linear in an
  unbounded column; two fixture-domain scopes: embeddings |v| <= 4
  for the bigint-exact micro-lattice algebra, ASCII p_name for q11's
  documented RE2-domain oracle). Four classes remain, EXTREME below.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import pytest

from tests.conftest import (
    REPO_ROOT,
    artifact_green,
    env_gated_names,
    load_artifact,
)
from tools.fixtures import FIXTURES, build

REAL_SFS = (
    "CORRECTNESS_SF0001.json",
    "CORRECTNESS_FULL.json",
    "CORRECTNESS_SF01.json",
)

#: dup: the first row replicated 32x BYTE-IDENTICAL, primary keys
#: included. This corpus VIOLATES the star schema's key contract
#: (doc_id/vec_id/event_id/o_orderkey unique), and on out-of-contract
#: input the two engines' formulations legitimately diverge: the
#: DuckDB twins are relational (unnest + GROUP BY key, per-key running
#: tables), so duplicated keys COLLAPSE (or fan out quadratically
#: through key joins), while the Spark plans are array-native and
#: row-wise. These are the oracle formulations that GROUP BY / join /
#: tie-break on a table's key column; every one was triaged (e.g.
#: q201's "tie" divergence is its tie-BREAK column, the PK, being
#: duplicated, not a latent rank bug). All 24 are green on the
#: PK-valid const corpus, the 0-row / 1-row fixtures and the real SFs.
PK_DUP = {
    # q102: per-order windows (sum_q, remainder rank) computed on the
    # lineitem side vs after the orders join collapse/fan out by 32x
    # when BOTH keys are duplicated - invisible in the first census
    # because the unpinned seed rows' keys did not even join; the
    # ORDER BY ALL pinning made the corpus strictly harsher.
    "q102_exact_allocation",
    "q50_cosine_topk", "q51_ann_lsh_topk", "q52_vector_norms",
    "q54_ivf_topk", "q86_sequence_packing", "q88_scd2_history",
    "q99_kmeans_assign", "q156_quantized_rerank",
    "q157_random_projection", "q179_scd2_asof_snapshot",
    "q184_multiprobe_ann", "q197_subtree_rollup",
    "q201_global_percent_rank", "q218_ngram_novelty",
    "q221_ann_recall", "q225_hybrid_rrf",
    "q252_consistent_hash_shards", "q257_ndcg_eval", "q276_sql_udfs",
    "q283_rank_agreement_rbo", "q284_mmr_rerank",
    "q285_gate_agreement_kappa", "q304_phrase_search",
    # q362 LEFT the ledger in r13: its oracle's per-key unrolled CTE
    # chain (exponential fan-out on duplicated keys, recorded as an
    # OOM in r12) was replaced by the bounded running-min formulation,
    # under which the dup row VERIFIES green - the farthest-first walk
    # is multiplicity-insensitive when duplicate rows are
    # byte-identical.
}

#: extreme, class 1 - IEEE double folds at catastrophic magnitudes:
#: SUM / AVG / percentile-interpolation / regression moments over
#: mixtures of 2^53-boundary and epsilon-scale values differ between
#: the engines' summation ORDERS by ~1-2 ulp of the running sum (every
#: diff is a final-digit wobble at 1e14..1e16 magnitudes, e.g. q14
#: 1801439850948198.2 vs .5, q21 ...991 vs ...990, q109's exactly
#: 1-ulp percentile midpoint). Both engines are IEEE-correct for SOME
#: fold order; no associativity-free formulation exists short of
#: decimal-izing every hot double path. q177 amplifies the same class
#: through share normalization (sum of +-1e24 edge weights feeds a
#: division). In contract the posture is the order-fold lint + the
#: partitioning-invariance sweep, both green at real SFs.
FLOAT_FOLD = {
    "q14_pricing_summary",
    "q21_running_user_value",
    "q39_value_quantiles",
    "q64_stats_suite",
    "q65_grouping_sets",
    "q109_median_abs_deviation",
    "q125_geomean_udaf",
    "q140_regr_stats",
    "q172_time_range_moving_avg",
    "q177_pagerank",
    "q197_subtree_rollup",
    "q310_cuped_ab_readout",
}

#: extreme, class 2 - watermarked streaming operators DROP events that
#: arrive after the watermark has passed their event time; the
#: fixture's 30-year event-time spread exceeds any bounded-state
#: horizon, so whole decades arrive "late" relative to the
#: availableNow processing order and are discarded - the documented
#: contract that keeps streaming state bounded - while the batch
#: oracle keeps every row. Which rows survive depends on file/batch
#: arrival order, so these can flip green on a lucky order: green is
#: ALLOWED here (tolerated set, not a strict ledger).
STREAM_ORDER = {
    "q35_stream_daily_finalized",
    "q71_stream_sliding_finalized",
    "q145_stream_dedup",
    "q212_stream_session_finalized",
    "q223_stream_stream_left_outer",
    "q232_stream_stream_full_outer",
    "q265_stateful_timeout_sessions",
}

#: extreme, class 3 - integer/decimal exactness devices have a STATED
#: input domain (milli/micro scaling into BIGINT, DECIMAL(20,6) value
#: sums, DECIMAL(4,2) TPC-H rates, integer allocation). Out-of-domain
#: magnitudes (2^53-scale values, zero allocation bases) error LOUDLY
#: ON BOTH ENGINES - Spark ANSI arithmetic/cast errors, DuckDB
#: conversion/out-of-range errors - rather than returning wrong data.
#: test_extreme_fail_fast_is_parity proves the oracle side rejects too
#: (oracle_check short-circuits on the Spark error, so the artifact
#: row alone cannot show it).
FAIL_FAST_PARITY = {
    "q102_exact_allocation",
    "q150_decimal_revenue",
    "q174_partial_agg_merge",
    "q354_did_readout",
    "q355_simpsons_slope_audit",
    "q363_quantile_treatment_effect",
    "q364_permutation_test",
    "q410_hhi_concentration",
}

#: extreme, class 4 - 1969 Asia/Ho_Chi_Minh: the JVM's tzdata renders
#: +08:00 (Saigon kept +08 until 1975) where DuckDB's ICU build
#: renders +07:00 - a timezone-DATABASE disagreement for pre-1975
#: instants, not a computation bug; both engines agree from the epoch
#: the reference pipeline actually operates in.
TZ_HISTORY = {"q36_localize_tz"}

#: fixture -> names allowed to diverge on it; a fixture absent here
#: has no ledger and must be green on every query.
LEDGERS = {
    "dup": PK_DUP,
    "extreme": FLOAT_FOLD | STREAM_ORDER | FAIL_FAST_PARITY | TZ_HISTORY,
}

#: queries whose output is empty in all twelve sweeps (three real SFs,
#: nine fixtures), so no oracle row checks them -> the test that
#: compares them with their oracle on a non-empty input.
EMPTY_EVERYWHERE = {
    # q270 lists LSH buckets over LSH_BUCKET_CAP (64) members; no sweep
    # corpus has one (a fixture holds at most 32 documents)
    "q270_lsh_hot_buckets": (
        "tests/test_lsh_bucket_cap.py::test_hot_bucket_excluded_and_flagged"
    ),
}

#: sha256 (first 12 hex) of DESCRIBE plus the rows in file order, per
#: built table: content, not parquet bytes, so a DuckDB writer change
#: cannot move it. lineitem's (l_orderkey, l_linenumber) is not unique,
#: so its pinned rows also pin DuckDB's tie order.
CONTENT_SHA256 = {
    "empty": {
        "customer": "02a7cab6d2a7", "documents": "af6edcc30bc0",
        "embeddings": "ca625f396789", "events": "24a948f9fca6",
        "lineitem": "e06ad0f5026f", "nation": "eb1823bef8d9",
        "orders": "690ca37812e3", "part": "7c35a8c63c6e",
        "region": "9a93342b2d81", "supplier": "3b614fcab0b0",
    },
    "1row": {
        "customer": "da3835a841a7", "documents": "ffe9592c9c92",
        "embeddings": "98428a3b8a78", "events": "19649756f191",
        "lineitem": "1aae47af7446", "nation": "600c4ce1d681",
        "orders": "9e1e64d33911", "part": "d79f0a93363a",
        "region": "5e524d351f97", "supplier": "f2eb6482f6d3",
    },
    "dup": {
        "customer": "94b392e0304d", "documents": "9842efb1557c",
        "embeddings": "c083f0316c0e", "events": "fe23098993a6",
        "lineitem": "a4155135c5d5", "nation": "18efeb01e5ec",
        "orders": "b8337ddc4df1", "part": "00af88a4ea7c",
        "region": "e753395b6dae", "supplier": "df67696bb40a",
    },
    "const": {
        "customer": "1405c0abaf3c", "documents": "d1b8427bfb2d",
        "embeddings": "ddba24bf73bc", "events": "7ef0b6e9bf9c",
        "lineitem": "47aaa730423d", "nation": "7c2f7c035588",
        "orders": "5261bcf29240", "part": "78e13cb8a275",
        "region": "9817f0580ea6", "supplier": "84d73d4ea606",
    },
    "extreme": {
        "customer": "1e5783b7989a", "documents": "282bb2bf2922",
        "embeddings": "76989225c526", "events": "3562ce9fc63d",
        "lineitem": "bfa067a1489b", "nation": "ca487cea780f",
        "orders": "86414146d7c2", "part": "9a9673cdf8bd",
        "region": "37b73890a83c", "supplier": "a8f5efaa7f7a",
    },
    "null": {
        "customer": "c1add9f41e2e", "documents": "f2eef2cb72d1",
        "embeddings": "eeb35d474091", "events": "03c38f163303",
        "lineitem": "1d2ca5f6fa95", "nation": "ca487cea780f",
        "orders": "35120bfc965e", "part": "53c5239c88e4",
        "region": "37b73890a83c", "supplier": "6ecf2668f4cd",
    },
    "allnull": {
        "customer": "b4d18f92c960", "documents": "6764099d1059",
        "embeddings": "ba622f7ab785", "events": "6382499b0f85",
        "lineitem": "c6b9b84a69b2", "nation": "ca487cea780f",
        "orders": "8bc57135ec0d", "part": "0ba65895d0f7",
        "region": "37b73890a83c", "supplier": "ed53a4fab980",
    },
    "signcancel": {
        "customer": "72596beed209", "documents": "282bb2bf2922",
        "embeddings": "ddf41bc8a60f", "events": "bf92b483f20a",
        "lineitem": "74c1d5dd5211", "nation": "ca487cea780f",
        "orders": "71a0e3d06186", "part": "5deca484643a",
        "region": "37b73890a83c", "supplier": "8d35050584fe",
    },
    "text": {
        "customer": "f4ac81772097", "documents": "3b15a4720429",
        "embeddings": "ddf41bc8a60f", "events": "c5bdc404f458",
        "lineitem": "31f726c45c12", "nation": "ca487cea780f",
        "orders": "d7e9cfdcb4fb", "part": "0fc14d202b6d",
        "region": "37b73890a83c", "supplier": "80a335d7ab68",
    },
}


@pytest.fixture(scope="module")
def sweep():
    return load_artifact("DEGENERATE_SWEEP.json")


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """Every fixture, rebuilt from the template: name -> directory."""
    root = tmp_path_factory.mktemp("fixtures")
    out = {}
    for name in FIXTURES:
        out[name] = str(root / name)
        build(name, out[name])
    return out


def test_sweep_has_one_section_per_fixture(sweep):
    assert sorted(sweep) == sorted(FIXTURES)


@pytest.mark.parametrize("fixture", list(FIXTURES))
def test_sweep_covers_registry(sweep, fixture):
    from web_scraping_etl_pipeline_spark.plans import QUERIES

    missing = sorted(set(QUERIES) - set(sweep[fixture]) - env_gated_names())
    assert missing == [], (
        f"{fixture}: {len(missing)} registered queries missing, e.g. "
        f"{missing[:5]} - python tools/fixtures.py {fixture} <names>"
    )


@pytest.mark.parametrize("fixture", list(FIXTURES))
def test_green_or_ledgered(sweep, fixture):
    ledger = LEDGERS.get(fixture, set())
    bad = {
        n: str(r.get("err"))[:100]
        for n, r in sweep[fixture].items()
        if n not in ledger and not artifact_green(r)
    }
    assert bad == {}, (
        f"{len(bad)} {fixture}-fixture divergences outside its ledger: "
        f"{bad}"
    )


@pytest.mark.parametrize("fixture", list(FIXTURES))
def test_ledger_rows_are_not_stale(sweep, fixture):
    """A ledgered query that now agrees on the fixture leaves the
    ledger - except STREAM_ORDER, whose outcome depends on arrival
    order by design (green is allowed there)."""
    records = sweep[fixture]
    strict = LEDGERS.get(fixture, set()) - STREAM_ORDER
    stale = sorted(
        n for n in strict if n in records and artifact_green(records[n])
    )
    assert stale == [], f"ledger rows {stale} now pass - remove them"


@pytest.mark.parametrize("fixture", list(FIXTURES))
def test_sweep_rows_are_fresh(sweep, fixture):
    """Every row carries the HEAD body/oracle fingerprints, so a
    rewritten query cannot coast on a stale green row."""
    from tools.invariance_check import body_hash, oracle_hash
    from web_scraping_etl_pipeline_spark.plans import QUERIES

    stale = sorted(
        n
        for n, rec in sweep[fixture].items()
        if n in QUERIES
        and (
            rec.get("body_hash") != body_hash(n)
            or rec.get("oracle_hash") != oracle_hash(n)
        )
    )
    assert stale == [], (
        f"{fixture}: {len(stale)} rows predate a rewrite, e.g. "
        f"{stale[:5]} - python tools/fixtures.py {fixture} <names>"
    )


def test_ledgered_names_green_on_real_corpora():
    """Ledgers cover out-of-contract input only: every ledgered name is
    GREEN in all three real-SF sweeps."""
    ledgered = set().union(*LEDGERS.values())
    for art in REAL_SFS:
        records = load_artifact(art)
        bad = sorted(
            n
            for n in ledgered
            if n in records and not artifact_green(records[n])
        )
        assert bad == [], f"{art}: ledgered names red in contract: {bad}"


def test_every_query_checked_on_nonempty_output(sweep):
    """A 0 = 0 row compares nothing. Every registered query is green
    with a non-empty result in at least one of the twelve sweeps, or
    EMPTY_EVERYWHERE names the test that checks it non-vacuously."""
    from web_scraping_etl_pipeline_spark.plans import QUERIES

    arts = [load_artifact(a) for a in REAL_SFS] + list(sweep.values())
    checked = {
        n
        for a in arts
        for n, r in a.items()
        if r.get("spark_rows") and artifact_green(r)
    }
    vacuous = set(QUERIES) - checked - env_gated_names()
    assert sorted(vacuous - set(EMPTY_EVERYWHERE)) == []
    assert sorted(set(EMPTY_EVERYWHERE) & checked) == [], (
        "non-empty somewhere now - remove from EMPTY_EVERYWHERE"
    )
    for test in EMPTY_EVERYWHERE.values():
        path, func = test.split("::")
        with open(os.path.join(REPO_ROOT, path)) as fh:
            assert f"def {func}(" in fh.read(), f"{test} does not exist"


def _content_sha256(con, path: str) -> str:
    src = f"read_parquet('{path}')"
    content = (
        con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall(),
        con.execute(f"SELECT * FROM {src}").fetchall(),
    )
    return hashlib.sha256(repr(content).encode()).hexdigest()[:12]


@pytest.mark.parametrize("fixture", list(FIXTURES))
def test_fixture_content_is_pinned(built, fixture):
    """The committed sweep rows were produced on exactly this content:
    a builder edit that moves any table shows here."""
    con = duckdb.connect()
    got = {
        os.path.basename(p).removesuffix(".parquet"): _content_sha256(
            con, p
        )
        for p in sorted(glob.glob(os.path.join(built[fixture], "*.parquet")))
    }
    con.close()
    assert got == CONTENT_SHA256[fixture]


def test_extreme_fail_fast_is_parity(built):
    """Non-vacuity for FAIL_FAST_PARITY: the DuckDB twin must REJECT
    the boundary input too. A parity row whose oracle silently
    succeeds would be a REAL divergence hiding in the ledger."""
    from web_scraping_etl_pipeline_spark.plans import ORACLE

    con = duckdb.connect()
    con.execute("SET memory_limit='8GB'")
    for p in glob.glob(os.path.join(built["extreme"], "*.parquet")):
        t = os.path.basename(p).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    not_rejecting = []
    for n in sorted(FAIL_FAST_PARITY):
        try:
            con.execute(ORACLE[n]).fetchall()
            not_rejecting.append(n)
        except Exception:  # noqa: BLE001 - rejection IS the assertion
            pass
    con.close()
    assert not_rejecting == [], (
        f"oracles that ACCEPT the boundary input {not_rejecting} - "
        "these are real divergences, not fail-fast parity; move them "
        "out of the ledger and fix them"
    )
