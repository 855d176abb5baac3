"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The engine lives in ``web_scraping_etl_pipeline_spark``; queries and
their oracle twins are registered side by side in
``web_scraping_etl_pipeline_spark/plans/*.py``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from web_scraping_etl_pipeline_spark.plans import ORACLE, QUERIES  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: flagship = the reference's daily-pipeline shape in one query:
#: incremental horizon filter + remaining-time render (script.sql:51-54
#: + the stored-procedure C8 bucketing).
FLAGSHIP = "q01_deadline_horizon"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


#: The driver's correctness gate records at most the FIRST 50 entries
#: of ``queries()``, so the iteration order decides what it samples.
#: The order is three lists, concatenated:
#:
#: 1. ``PINNED_CORE``: the reference-parity core (q01-q13 + q36, every
#:    operator the reference itself ships). It leads every window, so a
#:    regression in the flagship surface is always driver-visible.
#: 2. The queries the latest driver artifact marked non-green, so a fix
#:    is driver-verified the very next round.
#: 3. Every other query, least-recently-driver-checked first: a query
#:    absent from every CORRECTNESS_r*.json artifact sorts before one
#:    last checked in round 3, which sorts before one checked in round
#:    5. Ties go to the newest registration (highest numeric id), which
#:    has the least assurance history. Each round's artifact moves what
#:    the window sampled to the back, so every query cycles through the
#:    window within a bounded number of rounds.
#:
#: The in-repo full sweep (tools/oracle_check.py ->
#: CORRECTNESS_FULL.json) still covers all queries every round.
PINNED_CORE = [
    "q01_deadline_horizon", "q02_min_value", "q03_recent_first",
    "q04_contains_count", "q05_top_paying", "q06_watermark_bounds",
    "q07_incremental_newer", "q08_sentinel_null", "q09_cast_round",
    "q10_remaining_buckets", "q11_clean_title", "q12_clean_salary",
    "q13_calculate_dates", "q36_localize_tz",
]

GATE_SLOTS = 50


def _correctness_artifacts() -> list[tuple[int, str]]:
    """(round, path) for every driver correctness artifact, sorted
    NUMERICALLY by round - lexicographic sorting would put r100 before
    r99 and feed the retry list a stale artifact."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = []
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        if m:
            out.append((int(m.group(1)), path))
    return sorted(out)


def _last_checked_round() -> dict[str, int]:
    """query name -> highest round whose driver artifact contains it
    (queries absent from every artifact are simply absent)."""
    out: dict[str, int] = {}
    for rnd, path in _correctness_artifacts():
        try:
            with open(path) as fh:
                records = json.load(fh)
        except Exception:  # noqa: BLE001 - unreadable artifact: skip
            continue
        if not isinstance(records, dict):
            continue
        for name in records:
            out[name] = max(out.get(name, 0), rnd)
    return out


def _last_round_failures(artifact: str | None = None) -> list[str]:
    """Queries the PREVIOUS driver gate marked non-green: they run right
    after the pinned core so a fix is driver-verified the very next
    round instead of waiting out the rotation period (~8 rounds).
    Rows-only records (no oracle) are not failures."""
    if artifact is None:
        arts = _correctness_artifacts()
        if not arts:
            return []
        artifact = arts[-1][1]
    try:
        with open(artifact) as fh:
            records = json.load(fh)
    except Exception:  # noqa: BLE001 - unreadable artifact: no retries
        return []
    bad = []
    for name, rec in records.items():
        if not isinstance(rec, dict):
            continue
        err = rec.get("err")
        if err and "rows-only" in str(err):
            continue
        if (
            rec.get("rows_match") is False
            or rec.get("schema_match") is False
            or rec.get("hash_match") is False
            or rec.get("values_match") is False
            or err
        ):
            bad.append(name)
    return sorted(bad)


def _qid(name: str) -> int:
    """Numeric query id; registration order follows it."""
    m = re.match(r"q(\d+)", name)
    return int(m.group(1)) if m else 0


def _gate_order(names: list[str]) -> list[str]:
    pinned = [n for n in PINNED_CORE if n in names]
    retry = [
        n for n in _last_round_failures()
        if n in names and n not in PINNED_CORE
    ]
    checked = _last_checked_round()
    rest = sorted(
        (n for n in names if n not in PINNED_CORE and n not in retry),
        key=lambda n: (checked.get(n, -1), -_qid(n), n),
    )
    return pinned + retry + rest


def _ordered(names_to_vals: dict) -> dict:
    order = _gate_order(list(names_to_vals))
    return {k: names_to_vals[k] for k in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""
    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every SQL-expressible query (keys match
    ``queries()``; missing keys fall back to the rows-only check)."""
    return _ordered(dict(ORACLE))
