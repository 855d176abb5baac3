"""Partitioning-invariance gate (round 10).

``tools/invariance_check.py --json INVARIANCE.json`` runs every
registered query at shuffle.partitions=4, =32, and =32 with AQE
DISABLED, in one session, and requires identical canonicalized row
multisets - the property that makes local[32] results transfer to a
1000-executor cluster (no partition-order leaks, no reassociated
float folds, no per-partition tie-breaks, no dependence on AQE's
runtime coalescing/skew rewrites). This pin applies the PLANSHAPE freshness discipline to
that artifact: a query registered without re-running the sweep, a
recorded mismatch, OR (ADVICE r10 item 4) a query REWRITTEN since its
sweep row - detected by the per-query normalized-body hash the sweep
records - fails the suite. Per-row refresh after a targeted rewrite:
``python tools/invariance_check.py --json INVARIANCE.json
/root/testdata/sf0.001 <query...>`` merges just those rows.
"""

from __future__ import annotations

import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CUR = os.path.join(ROOT, "INVARIANCE.json")


def _load():
    with open(CUR) as fh:
        return json.load(fh)


def test_invariance_artifact_exists_and_covers_registry():
    assert os.path.exists(CUR), (
        "INVARIANCE.json missing - run `python tools/invariance_check.py "
        "--json INVARIANCE.json /root/testdata/sf0.001` at round close"
    )
    art = _load()
    import json

    from web_scraping_etl_pipeline_spark.plans import QUERIES

    # env-gated registrations (SKIPPED.json rows with an
    # env_condition, e.g. q249 behind google.protobuf) are exempt:
    # the committed artifact is generated in the canonical container.
    with open(os.path.join(ROOT, "SKIPPED.json")) as fh:
        gated = {
            v.get("name")
            for v in json.load(fh).values()
            if isinstance(v, dict) and v.get("env_condition")
        }
    missing = sorted(set(QUERIES) - set(art["queries"]) - gated)
    assert missing == [], (
        f"INVARIANCE.json stale: {len(missing)} registered queries "
        f"missing, e.g. {missing[:5]}"
    )
    assert art["variants"] == ["p4", "p32", "p32_noaqe"]


def test_invariance_all_queries_match():
    art = _load()
    bad = {
        n: rec
        for n, rec in art["queries"].items()
        if rec.get("match") is not True or rec.get("err")
    }
    assert bad == {}, (
        f"{len(bad)} queries are partition-DEPENDENT or errored: "
        f"{dict(list(bad.items())[:5])}"
    )


def test_invariance_rows_are_fresh():
    """A rewritten query keeps its artifact row but the recorded
    body_hash no longer matches HEAD - the stale-match=true blind
    spot ADVICE r10 item 4 names. Recompute every hash at HEAD."""
    from tools.invariance_check import body_hash
    from web_scraping_etl_pipeline_spark.plans import QUERIES

    art = _load()
    stale = sorted(
        n
        for n, rec in art["queries"].items()
        if n in QUERIES and rec.get("body_hash") != body_hash(n)
    )
    assert stale == [], (
        f"{len(stale)} queries rewritten since their invariance sweep "
        f"row, e.g. {stale[:5]} - re-run tools/invariance_check.py for "
        "those names (subset runs merge into the artifact)"
    )


def test_invariance_rows_are_not_vacuous():
    """The sweep must have compared real output: at least 90% of
    recorded queries produced >0 rows at sf0.001 (an all-empty
    artifact would pass the match check trivially)."""
    art = _load()
    rows = [rec["rows"] for rec in art["queries"].values()]
    nonempty = sum(1 for r in rows if r)
    assert nonempty >= 0.9 * len(rows)


def test_invariance_rows_match_sf0001_sweep():
    """Every row is swept at the artifact's SF (sf0.001): its row count
    equals the sf0.001 oracle sweep's Spark row count. A row swept at
    another SF (e.g. sf0.01's 10x row counts) fails here."""
    art = _load()
    with open(os.path.join(ROOT, "CORRECTNESS_SF0001.json")) as fh:
        ref = json.load(fh)
    off = {
        n: (rec["rows"], ref.get(n, {}).get("spark_rows"))
        for n, rec in art["queries"].items()
        if rec["rows"] != ref.get(n, {}).get("spark_rows")
    }
    assert off == {}, (
        f"{len(off)} rows disagree with CORRECTNESS_SF0001.json "
        f"(invariance rows, sweep rows): {dict(list(off.items())[:5])}"
    )
    assert os.path.basename(art["sf_dir"]) == "sf0.001"


def test_subset_merge_keeps_header(tmp_path):
    """A subset ``--json`` run merges its rows under the artifact's
    existing header instead of relabelling every prior row with the
    subset's SF, and stamps each row it writes with its own sf_dir."""
    from tools.invariance_check import write_artifact

    out = tmp_path / "INVARIANCE.json"
    prior_row = {"match": True, "rows": 3, "err": None, "body_hash": "x"}
    out.write_text(
        json.dumps(
            {
                "sf_dir": "/data/sf0.001",
                "variants": ["p4", "p32", "p32_noaqe"],
                "queries": {"q_old": prior_row},
            }
        )
    )
    new_row = {"match": True, "rows": 5, "err": None, "body_hash": "y"}
    write_artifact(str(out), "/data/sf0.01", {"q_new": dict(new_row)})
    art = json.loads(out.read_text())
    assert art["sf_dir"] == "/data/sf0.001"
    assert art["variants"] == ["p4", "p32", "p32_noaqe"]
    assert art["queries"]["q_old"] == prior_row
    assert art["queries"]["q_new"] == {**new_row, "sf_dir": "/data/sf0.01"}


def test_subset_merge_into_corrupt_artifact_raises(tmp_path):
    """An unreadable prior artifact stops a subset merge instead of
    reading as empty and being replaced by the subset's rows alone."""
    from tools.invariance_check import write_artifact

    out = tmp_path / "INVARIANCE.json"
    truncated = b'{"sf_dir": "x", "queries": {"q1": {'
    out.write_bytes(truncated)
    row = {"match": True, "rows": 5, "err": None, "body_hash": "y"}
    with pytest.raises(ValueError):
        write_artifact(str(out), "/data/sf0.001", {"q01": row})
    assert out.read_bytes() == truncated
