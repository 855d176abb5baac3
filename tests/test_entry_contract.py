"""Driver-contract gates for __spark_entry__.py: the ordering policy
the correctness gate samples from must stay deterministic, pinned, and
fully oracle-backed.
"""

from __future__ import annotations

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

entry_mod = importlib.import_module("__spark_entry__")


def test_pinned_core_leads_the_gate():
    q = list(entry_mod.queries())
    assert q[: len(entry_mod.PINNED_CORE)] == entry_mod.PINNED_CORE
    assert q[0] == entry_mod.FLAGSHIP


def test_gate_order_is_deterministic_and_complete():
    a = list(entry_mod.queries())
    b = list(entry_mod.queries())
    assert a == b
    from web_scraping_etl_pipeline_spark.plans import QUERIES

    assert set(a) == set(QUERIES)
    assert len(a) == len(QUERIES)


def test_gated_prefix_is_oracle_backed():
    """Every query in the 50-slot gate window must have a DuckDB twin
    (rows-only entries like q74 may exist in the registry, but the
    deterministic schedule should never waste a gated slot on one
    without the stronger check unless it is its scheduled turn)."""
    q = list(entry_mod.queries())[: entry_mod.GATE_SLOTS]
    oracles = entry_mod.oracle_sql()
    missing = [n for n in q if n not in oracles]
    # since round 5 every query carries an oracle (the former
    # rows-only sketch rows q74/q256 now use exact-count bridges);
    # anything missing an oracle is a registration bug.
    assert missing == [], missing


def test_oracle_keys_match_queries():
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert o <= q
    assert q - o == set()  # full oracle coverage since round 5


def test_schedule_covers_every_query_within_bounded_period(monkeypatch):
    # Least-recently-checked-first scheduling: simulate the driver
    # loop (each round's 50-slot window lands in an artifact, which
    # updates the last-checked map) and pin that (a) the pinned core
    # stays inside the window at EVERY round and (b) the full registry
    # cycles through within ceil(len(rest)/free) rounds - a registry
    # insertion can't silently starve a query of driver checks.
    from web_scraping_etl_pipeline_spark.plans import QUERIES

    names = list(QUERIES)
    pinned = [n for n in entry_mod.PINNED_CORE if n in names]
    rest = sorted(n for n in names if n not in entry_mod.PINNED_CORE)
    free = max(entry_mod.GATE_SLOTS - len(pinned), 1)
    period = -(-len(rest) // free)  # ceil

    # neutralize the failure fast-track for pure-schedule math
    monkeypatch.setattr(entry_mod, "_last_round_failures", lambda: [])
    checked: dict[str, int] = {}
    monkeypatch.setattr(
        entry_mod, "_last_checked_round", lambda: dict(checked)
    )
    seen: set[str] = set()
    for rnd in range(1, period + 1):
        window = entry_mod._gate_order(names)[: entry_mod.GATE_SLOTS]
        assert window[: len(pinned)] == pinned, f"core left window at round {rnd}"
        seen.update(window)
        for name in window:  # the driver records the window it ran
            checked[name] = rnd
    assert seen == set(names), (
        f"schedule period {period} misses {sorted(set(names) - seen)[:5]}..."
    )


def test_never_checked_queries_lead_the_tail(monkeypatch):
    # A query absent from every driver artifact must outrank one
    # already checked, regardless of name order.
    names = list(entry_mod.QUERIES)
    monkeypatch.setattr(entry_mod, "_last_round_failures", lambda: [])
    tail = [n for n in sorted(names) if n not in entry_mod.PINNED_CORE]
    # mark everything checked except one late-alphabet victim
    victim = tail[-1]
    monkeypatch.setattr(
        entry_mod,
        "_last_checked_round",
        lambda: {n: 1 for n in tail if n != victim},
    )
    order = entry_mod._gate_order(names)
    pinned = [n for n in entry_mod.PINNED_CORE if n in names]
    assert order[len(pinned)] == victim


def test_never_checked_ties_break_newest_first(monkeypatch):
    # among equally-stale queries the NEWEST addition (highest numeric
    # qid) drains first, so a freshly-landed operator reaches the
    # driver gate the next round instead of queueing behind older
    # never-checked names.
    names = list(entry_mod.QUERIES)
    monkeypatch.setattr(entry_mod, "_last_round_failures", lambda: [])
    monkeypatch.setattr(entry_mod, "_last_checked_round", dict)
    order = entry_mod._gate_order(names)
    pinned = [n for n in entry_mod.PINNED_CORE if n in names]
    tail_ids = [entry_mod._qid(n) for n in order[len(pinned):]]
    assert len(tail_ids) == len(names) - len(pinned)
    assert tail_ids == sorted(tail_ids, reverse=True)


def test_schedule_advances_between_rounds(monkeypatch):
    # after a round's artifact lands, the window must move on to the
    # next least-recently-checked block (deterministic within a round).
    names = list(entry_mod.QUERIES)
    monkeypatch.setattr(entry_mod, "_last_round_failures", lambda: [])
    checked: dict[str, int] = {}
    monkeypatch.setattr(
        entry_mod, "_last_checked_round", lambda: dict(checked)
    )
    w1 = entry_mod._gate_order(names)
    assert w1 == entry_mod._gate_order(names)
    for name in w1[: entry_mod.GATE_SLOTS]:
        checked[name] = 1
    w2 = entry_mod._gate_order(names)
    assert w1[: entry_mod.GATE_SLOTS] != w2[: entry_mod.GATE_SLOTS]


def test_artifact_round_sort_is_numeric(tmp_path, monkeypatch):
    # ADVICE r5: sorted(glob(...)) puts r100 before r99; the artifact
    # listing must sort by the numeric round.
    import json

    for rnd in (9, 10, 100, 99):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({f"marker_r{rnd}": {"hash_match": True}})
        )
    monkeypatch.setattr(
        entry_mod.os.path, "dirname", lambda _p: str(tmp_path)
    )
    arts = entry_mod._correctness_artifacts()
    assert [r for r, _ in arts] == [9, 10, 99, 100]


def test_last_round_failures_fast_tracked(monkeypatch):
    # a red row in the previous round's driver artifact must appear in
    # THIS round's 50-slot window, right after the pinned core.
    names = list(entry_mod.QUERIES)
    victim = "q230_token_budget_fill"
    monkeypatch.setattr(
        entry_mod, "_last_round_failures", lambda: [victim]
    )
    window = entry_mod._gate_order(names)[: entry_mod.GATE_SLOTS]
    pinned = [n for n in entry_mod.PINNED_CORE if n in names]
    assert window[len(pinned)] == victim


def test_failure_parser_reads_r04_artifact():
    # the real r4 artifact contains exactly one red row (q230's
    # cross-engine hash); the parser must find it and nothing else,
    # and treat rows-only records as green. Pinned to the r4 file
    # explicitly so the test survives later rounds' artifacts.
    import os

    art = os.path.join(
        os.path.dirname(os.path.abspath(entry_mod.__file__)),
        "CORRECTNESS_r04.json",
    )
    fails = entry_mod._last_round_failures(art)
    assert fails == ["q230_token_budget_fill"]


def test_gate_order_pinned_for_round15_artifacts(monkeypatch):
    # the emitted order for the driver artifacts r01-r15 is frozen:
    # a scheduling refactor must reproduce it name for name. Later
    # rounds' artifacts are filtered out so they cannot move the pin.
    import hashlib

    arts = [(r, p) for r, p in entry_mod._correctness_artifacts() if r <= 15]
    assert [r for r, _ in arts] == list(range(1, 16))
    monkeypatch.setattr(entry_mod, "_correctness_artifacts", lambda: arts)
    q = list(entry_mod.queries())
    assert list(entry_mod.oracle_sql()) == q
    assert q[14] == "q290_truncation_sweep"  # 15th: first after the core
    assert q[49] == "q189_priority_check"  # 50th: last in the window
    digest = hashlib.sha256("\n".join(q).encode()).hexdigest()[:16]
    assert digest == "04ea8458f5698976"
