"""Round-over-round physical-plan-shape gate (VERDICT r7 item 5).

``tools/plan_audit.py --json PLANSHAPE.json`` snapshots per-query
operator counts (xchg/bcast/smj/bhj) and rotates the previous snapshot
to ``PLANSHAPE_PREV.json``. A plan regression - a join silently
flipping SMJ -> BNLJ, a new shuffle appearing in a hot path - is one
integer in this diff even when wall-clock noise (+/-25% on this VM)
hides it. Drift must be EXPLAINED: either the query is new, or it is
listed in ``ALLOWED_DRIFT`` with the reason for this round's change.
"""

from __future__ import annotations

import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CUR = os.path.join(ROOT, "PLANSHAPE.json")
PREV = os.path.join(ROOT, "PLANSHAPE_PREV.json")

#: shape counters whose drift must be explained; wsc/arrow are
#: informational (codegen-span counts shift under trivial refactors).
SHAPE_KEYS = ("xchg", "bcast", "smj", "bhj")

#: query -> reason, cleared each round after the judge reads it.
#: An entry here says "this round's plan change for this query is
#: deliberate"; unexplained drift fails the suite.
ALLOWED_DRIFT: dict[str, str] = {
    # r15 single-action beam rewrite: the 8 beam levels chain LAZILY
    # into one plan (was: per-level driver collect + createDataFrame
    # probe, so the audited final frame was only the 16-row local
    # readout - xchg/bcast/bhj all 0). The counters now see the real
    # query: 7 level joins against the checkpointed top-W transition
    # cache plus the per-level top-2 exchanges. Every exchange moves
    # <= BEAM_W rows except the one census aggregation that always
    # existed; values re-verified exact at all three SFs + all nine
    # degenerate fixtures this round (r15 entry in CHANGES.md).
    "q361_beam_search_decode": (
        "lazy single-action beam chain brings the 7 level joins into "
        "the audited plan (xchg 0 -> 16, bhj 0 -> 28); per-level "
        "frames are <= BEAM_W rows, driver loop removed"
    ),
    # r11 single-row totality hardening: q411's NULLIF guard around
    # the sqrt denominator makes Spark's CSE extract _common_expr
    # Projects between the per-day score and the orderBy(...).limit(1)
    # readout, so the planner emits Sort + Exchange rangepartitioning
    # + CollectLimit (xchg 2 -> 3) instead of fusing a
    # TakeOrderedAndProject. The sorted relation is the
    # calendar-bounded daily frame (<= |days| ~ 31 rows at any SF -
    # it is the OUTPUT of the daily aggregate), so the extra exchange
    # moves tens of rows and is scale-inert; values re-verified exact
    # at all three SFs + both degenerate fixtures this round.
    "q411_grubbs_outlier": (
        "NULLIF guard -> CSE Projects -> Sort/Exchange/CollectLimit "
        "over the <=31-row daily frame replaces TakeOrderedAndProject"
    ),
    # r14 LOF candidate cap (VERDICT r13 item 2): q382's pair stage
    # gains the KNN_BUCKET_CAP per-bucket row_number window on the
    # candidate side - the same +|V|-row-Exchange trade the r13 q158
    # entry adjudicated (and the r12 verdict mandated for this exact
    # hazard class). xchg 15 -> 20: one hash-partitioning Exchange on
    # `bucket` for the window itself plus AQE re-splits around the
    # now-capped pair join; every new exchange moves |V| rows (the
    # 2000-row embedding projection at this SF, never the pair
    # fan-out), and the cap is what bounds the pair stage at N*cap
    # instead of sum(bucket^2). Values re-verified exact at all three
    # SFs + all seven degenerate fixtures this round; drift vs the
    # uncapped formulation quantified in tests/test_lof_bucket_cap.py.
    "q382_lof_outliers": (
        "KNN_BUCKET_CAP candidate window adds |V|-row Exchanges that "
        "bound the LOF pair join at N*cap (xchg 15 -> 20)"
    ),
    # r14 all-NULL census restamp artifact, NOT a plan change: the
    # when/otherwise cell rewrite moved q391/q398's body_hash, so both
    # rows were re-audited in a FRESH-process subset run, which records
    # the cold-session shape (xchg 20: the shared lsh_pairs stage is
    # persisted at construction, so the consumer plan reads one
    # InMemoryRelation). The PREV rows (xchg 231) were captured inside
    # the r13 FULL sweep's long-lived warm session, where explainString
    # prints the nested cached-child plans of every upstream shared
    # stage accumulated by then, inflating the counters. Verified by
    # re-auditing q391 cold at the exact PREV-snapshot commit (d3319a8,
    # in a worktree): xchg=20 there too - the cold shape is IDENTICAL
    # at both commits, so nothing about the executable plan drifted.
    "q391_mcc_gate": (
        "fresh-process restamp after the all-NULL census body change; "
        "cold shape identical at PREV commit (xchg 20 == 20), PREV row "
        "carried warm-session nested-cache counts (231)"
    ),
    "q398_fleiss_kappa_gates": (
        "fresh-process restamp after the all-NULL census body change; "
        "cold shape identical at PREV commit (xchg 20 == 20), PREV row "
        "carried warm-session nested-cache counts (231)"
    ),
    # Full restamp after the parquet-schema memo moved every
    # body_hash. These three rows re-audited to shapes that differ from
    # PREV, but a cold fresh-process audit of the three names gives
    # the same shapes at the parent commit (bc9ae5f) and at this one
    # (q164 xchg 2 bcast 4 smj 0 bhj 4, q268 2/0/1/0, q378 10/3/0/2),
    # on the same 4-core host: the PREV rows do not reproduce at the
    # commit they were stamped for, so no plan changed here.
    "q164_min_cost_supplier": (
        "restamp re-audit; cold shape identical at the parent commit "
        "(xchg 4 -> 2, smj 1 -> 0), PREV row not reproducible there"
    ),
    "q268_leakage_safe_split": (
        "restamp re-audit; cold shape identical at the parent commit "
        "(xchg 0 -> 2, bhj 1 -> 0), PREV row not reproducible there"
    ),
    "q378_topk_churn": (
        "restamp re-audit; cold shape identical at the parent commit "
        "(bcast 2 -> 3, smj 1 -> 0), PREV row not reproducible there"
    ),
    # r14 optimization (guide section 2.4): the cluster-size count now
    # rides the SAME re-center hash aggregate instead of recomputing
    # the final round's full assignment pass (scan + broadcast NLJ +
    # argmin aggregate) a second time and joining it back - one whole
    # corpus-scan subtree per run deleted. The remaining xchg=0 /
    # bcast=0 reflects that the returned frame is now the k-row
    # centroid frame's localCheckpoint (already materialized), so the
    # audited plan is a pure posexplode projection. Values re-verified
    # exact at all three SFs + all nine degenerate fixtures this round.
    "q306_kmeans_lloyd": (
        "n_members folded into the re-center aggregate; duplicate "
        "final-round assignment subtree + size join deleted "
        "(xchg 3 -> 0, smj 1 -> 0)"
    ),
    # Same device per subspace (4 subspaces): the duplicated argmin
    # assignment subtrees and the 4 size joins are gone, halving every
    # audited counter. Values re-verified at 3 SFs + 9 fixtures.
    "q349_pq_codebooks": (
        "n_members folded into each subspace's re-center aggregate "
        "(xchg 32 -> 16, bcast 16 -> 8, smj 4 -> 0)"
    ),
    # r14 optimization (guide section 2.4): the constant weighted
    # degree is pre-merged into the persisted edge table once, so each
    # TextRank iteration drops its second vocab-keyed join; the one
    # new build-time join of adj0 x deg (both derived from the same
    # vocab-bounded aggregate) plans as SMJ inside the persisted
    # stage, and the audited analyzed plan now prints that nested
    # build under every iteration's InMemoryRelation (xchg 19 -> 25 is
    # nested-cache PRINTING, not extra runtime exchanges - the
    # executed iteration has strictly fewer joins: bhj 9 -> 6).
    # Values re-verified exact at 3 SFs + all nine fixtures.
    "q341_textrank_keywords": (
        "degree folded into persisted edge table; per-iteration second "
        "join removed (bhj 9 -> 6); nested cached-build printing "
        "raises xchg 19 -> 25"
    ),
    # r14 optimization (guide sections 2.3/2.4): pair/triple itemset
    # combinations are enumerated MAP-SIDE from each document's sorted
    # qualifying-term array instead of doc-keyed posting self-joins;
    # the only exchanges left are the per-doc term-set groupBy and the
    # support aggregates. Values re-verified at 3 SFs + 9 fixtures
    # (incl. the PK-dup census, which caught and fixed the per-record
    # vs per-distinct-doc support divergence during the rewrite).
    "q358_apriori_triples": (
        "map-side itemset enumeration (pre-restricted by the "
        "frequent-pair vocabulary) replaces doc-keyed self-joins "
        "(xchg 35 -> 25, bcast 21 -> 14, bhj 17 -> 3)"
    ),
    # r14 optimization (guide section 2.4): the two endpoint-degree
    # moments fold into symmetric algebra over ONE pass of the joined
    # edge list - the old plan unionAll'ed the join subtree with its
    # x/y-swapped copy, executing both joins twice (and the degree
    # aggregate, now persisted, once per broadcast build). Exact
    # bigint identities (n = 2|E|, Sx = sum(du+dv), Sxx = sum(du^2 +
    # dv^2), Sxy = 2 sum(du*dv)); values re-verified at 3 SFs + all
    # nine degenerate fixtures this round.
    "q383_degree_assortativity": (
        "symmetric-moment fold removes the unionAll'ed duplicate join "
        "subtree (xchg 14 -> 7, bcast 4 -> 2, bhj 4 -> 2)"
    ),
    # r14 optimization (guide section 4): global_lead's in-partition
    # lookahead moved from a mapInPandas pass (the suite's one
    # remaining fact-sized Python boundary) to a pure-JVM LEAD +
    # row_number window partitioned by the range-partition id - the
    # global_cumsum device, measured faster at every size in PERF.md.
    # arrow -> 0 in all three consumers; the +1 exchange per lead call
    # is the window's hash exchange on the block id (each contiguous
    # block moves as a unit), and the extra bcast/bhj are the
    # offsets-frame broadcast join that replaced the Python-side
    # offset addition. Values re-verified at 3 SFs + nine fixtures.
    "q131_sorted_neighborhood": (
        "global_lead JVM-window rewrite: MapInPandas removed "
        "(arrow 3 -> 0; xchg 6 -> 9, bcast 2 -> 5)"
    ),
    "q294_suffix_lcp_spans": (
        "global_lead JVM-window rewrite: MapInPandas removed "
        "(arrow 2 -> 0; xchg 5 -> 7, bcast 1 -> 3)"
    ),
    "q136_key_gap_audit": (
        "global_lead JVM-window rewrite: MapInPandas removed "
        "(arrow 2 -> 0; xchg 4 -> 6, bcast 1 -> 3)"
    ),
}


def _load(path):
    with open(path) as fh:
        return json.load(fh)


def test_planshape_artifact_exists_and_covers_registry():
    assert os.path.exists(CUR), (
        "PLANSHAPE.json missing - run "
        "`python tools/plan_audit.py --json PLANSHAPE.json` at round close"
    )
    shapes = _load(CUR)
    from web_scraping_etl_pipeline_spark.plans import QUERIES
    from tools.plan_audit import STREAMING

    expected = set(QUERIES) - set(STREAMING)
    missing = sorted(expected - set(shapes))
    assert missing == [], (
        f"PLANSHAPE.json stale: {len(missing)} registered queries "
        f"missing, e.g. {missing[:5]}"
    )


def test_planshape_no_flags_snapshotted():
    shapes = _load(CUR)
    flagged = {n: s["flags"] for n, s in shapes.items() if s.get("flags")}
    assert flagged == {}, flagged


def test_planshape_drift_is_explained():
    if not os.path.exists(PREV):
        pytest.skip("no previous snapshot yet (first round with gate)")
    cur, prev = _load(CUR), _load(PREV)
    drifted = {}
    for name in set(cur) & set(prev):
        delta = {
            k: (prev[name].get(k), cur[name].get(k))
            for k in SHAPE_KEYS
            if prev[name].get(k) != cur[name].get(k)
        }
        if delta and name not in ALLOWED_DRIFT:
            drifted[name] = delta
    assert drifted == {}, (
        f"unexplained plan-shape drift in {len(drifted)} queries "
        f"(add to ALLOWED_DRIFT with a reason if deliberate): {drifted}"
    )


def test_planshape_rows_are_fresh():
    """A rewritten query keeps its snapshot row but the recorded
    body_hash no longer matches HEAD (same stale-row class the
    invariance pin closes, ADVICE r10 item 4): plan-shape claims for
    rewritten queries must come from a re-audit, not a stale row.
    Subset refresh: `python tools/plan_audit.py --json PLANSHAPE.json
    <sf_dir> <query...>` merges just those rows into the artifact and
    does NOT rotate PLANSHAPE_PREV.json (only a full run rotates it, so
    the drift baseline stays the last full snapshot)."""
    from tools.invariance_check import body_hash
    from web_scraping_etl_pipeline_spark.plans import QUERIES

    shapes = _load(CUR)
    stale = sorted(
        n
        for n, rec in shapes.items()
        if n in QUERIES and rec.get("body_hash") != body_hash(n)
    )
    assert stale == [], (
        f"{len(stale)} queries rewritten since the last plan audit, "
        f"e.g. {stale[:5]} - re-run tools/plan_audit.py --json "
        "PLANSHAPE.json"
    )
