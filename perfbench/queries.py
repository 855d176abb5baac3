"""The ``queries`` workload and its result checks.

A round is a fixed list of registered queries over the read-only sf0.1
test data: single-pass ``core``/``relational`` queries and driver-loop
queries. A run executes one untimed warm-up round, then timed rounds.
The timed operation of a query is what its caller pays: the
query-function call, the ``toPandas()`` fetch of the result, and
``release_transients()``.

Checks. The first timed result of each query is compared, after Spark
has stopped, with its DuckDB twin (``ORACLE[name]``) by the comparison
of ``tools/oracle_check.py``: column names, sorted rows, exact values.
A twin that returns no rows fails the check, because it would check
nothing. Every later result must have the same fingerprint (an
order-free hash of its rows) as the first result of its query.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

#: core (the reference's analytic queries and cleaning functions) and
#: relational (TPC-H-style joins and aggregates): single-pass queries
#: whose fixed costs - parquet schema inference, planning - are a large
#: share of their time. Warm, four of them take 0.4-0.55 s, so the
#: median operation sits among neighbours close to it in time.
ADHOC_SQL = (
    "q01_deadline_horizon",
    "q05_top_paying",
    "q07_incremental_newer",
    "q12_clean_salary",
    "q14_pricing_summary",
    "q15_customers_by_region",
    "q16_segment_revenue",
    "q20_latest_order_per_customer",
    "q107_relational_division",
)

#: driver-loop queries: their construction runs Spark jobs round after
#: round, so construction, not execution, dominates their time. It reads
#: no ``shared_stage`` entry, so a warm call still does all of it.
ITERATIVE = ("q197_subtree_rollup",)

#: the ``queries`` workload's round.
QUERIES_ROUND = ADHOC_SQL + ITERATIVE
#: timed rounds a run makes at least, after one untimed warm-up round;
#: an operation's figure is its best round. A round still runs 5-20%
#: faster the second or third time, and single queries jitter by ~10%
#: between rounds; the best of three damps both.
TIMED_ROUNDS = 3


def fingerprint(pdf) -> str:
    """Order-free hash of a result frame: column names, dtypes and the
    sorted per-row hashes. Object cells hash by ``repr``."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    frame = pd.DataFrame(
        {
            c: pdf[c].map(repr) if pdf[c].dtype == object else pdf[c]
            for c in cols
        }
    )
    rows = np.sort(pd.util.hash_pandas_object(frame, index=False).to_numpy())
    head = json.dumps([[c, str(pdf[c].dtype)] for c in cols])
    return hashlib.sha256(head.encode() + rows.tobytes()).hexdigest()


def compare(spark_pdf, oracle_pdf) -> str | None:
    """``tools/oracle_check.py``'s comparison; None when equal, else
    what differs. An empty oracle result is a failure."""
    from tools.oracle_check import frame_to_rows, pandas_rows

    if len(oracle_pdf) == 0:
        return "oracle returned 0 rows: the check would check nothing"
    sc, sr = frame_to_rows(list(spark_pdf.columns), pandas_rows(spark_pdf))
    dc, dr = frame_to_rows(list(oracle_pdf.columns), pandas_rows(oracle_pdf))
    if sc != dc:
        return f"columns differ: spark={sc} oracle={dc}"
    if len(sr) != len(dr):
        return f"row count differs: spark={len(sr)} oracle={len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        if a != b:
            return f"sorted row {i} differs: spark={a} oracle={b}"
    return None


def run(ctx, seconds: float) -> dict:
    """Warm-up round, timed rounds for ``seconds``, checks. Returns the
    run's raw figures for :mod:`run` to turn into metrics."""
    names = QUERIES_ROUND
    from web_scraping_etl_pipeline_spark.plans import ORACLE, QUERIES
    from web_scraping_etl_pipeline_spark.plans.common import release_transients

    from perfbench.harness import log

    missing = [n for n in names if n not in QUERIES or n not in ORACLE]
    if missing:
        raise SystemExit(f"not registered with an oracle: {missing}")
    tracer = ctx.tracer
    spark = ctx.spark

    def one(rnd: str, name: str):
        op = f"{rnd}:{name}"
        rec = {"round": rnd, "name": name}
        before = tracer.persisted_rdds() if tracer.enabled else 0
        t0 = t = time.perf_counter()
        with tracer.phase(op, "build"):
            df = QUERIES[name](spark, ctx.sf_dir)
        rec["build_s"] = time.perf_counter() - t
        if tracer.enabled:
            t = time.perf_counter()
            with tracer.phase(op, "plan") as span:
                plan = df._jdf.queryExecution().executedPlan().toString()
                span["exchanges"] = sum(
                    1 for line in plan.splitlines()
                    if "Exchange " in line and "ReusedExchange" not in line
                )
            rec["plan_s"] = time.perf_counter() - t
            rec["exchanges"] = span["exchanges"]
        t = time.perf_counter()
        with tracer.phase(op, "exec"):
            pdf = df.toPandas()
        rec["run_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.phase(op, "release"):
            release_transients()
        rec["release_s"] = time.perf_counter() - t
        rec["s"] = time.perf_counter() - t0
        if tracer.enabled:
            rec["persisted_left"] = tracer.persisted_rdds() - before
        rec["rows"] = len(pdf)
        rec["bytes"] = int(pdf.memory_usage(index=False, deep=True).sum())
        rec["fp"] = fingerprint(pdf)
        return rec, pdf

    for name in names:
        try:
            one("w", name)
        except Exception as exc:  # noqa: BLE001 - the timed run counts it
            log(f"warm-up {name} failed: {exc}")
    ctx.mark_setup_done()

    records: list[dict] = []
    problems: list[str] = []
    first: dict[str, tuple] = {}
    attempted = failed = rnd = 0
    t_start = time.perf_counter()
    while rnd < TIMED_ROUNDS or time.perf_counter() - t_start < seconds:
        rnd += 1
        for name in names:
            attempted += 1
            try:
                rec, pdf = one(f"r{rnd}", name)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                failed += 1
                log(f"{name} (round {rnd}) failed: {exc}")
                continue
            records.append(rec)
            log(f"{rec['round']} {name} {rec['s']:.3f}s")
            if name not in first:
                first[name] = (rec["fp"], pdf)
            elif rec["fp"] != first[name][0]:
                problems.append(f"{name} (round {rnd}): result differs from round 1")
    ctx.finish_spark()

    from tools.oracle_check import duck_connection

    con = duck_connection(ctx.sf_dir)
    try:
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        for name, (_, pdf) in first.items():
            problem = compare(pdf, con.execute(ORACLE[name]).df())
            if problem:
                problems.append(f"{name}: {problem}")
    finally:
        con.close()
    return {
        "records": records,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
    }
