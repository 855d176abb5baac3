"""Re-check queries in every verification artifact and merge the rows.

    python tools/restamp.py [query ...]

A rewritten query (or a rewritten shared helper) leaves its rows stale
in all six artifacts. This runs the 14 checks that restamp them, for
the named queries:

- tools/oracle_check.py at sf0.001, sf0.01 and sf0.1
  (CORRECTNESS_SF0001.json, CORRECTNESS_FULL.json, CORRECTNESS_SF01.json)
- tools/fixtures.py for each of the nine fixtures (DEGENERATE_SWEEP.json)
- tools/invariance_check.py at sf0.001 (INVARIANCE.json)
- tools/plan_audit.py at sf0.001, streaming queries excluded
  (PLANSHAPE.json; PLANSHAPE_PREV.json is not rotated)

With no names, each check re-runs the registered queries whose row in
its artifact is missing, or carries a body or oracle hash that differs
from the code's; a check with nothing stale is skipped, so an
interrupted run resumes where it stopped.

Each check runs in its own spawned process with its own Spark session
(stage caches key on the data path, so checks never share one) and a
bounded driver heap: the sf0.1 sweep alone, then the others two at a
time. Its output goes to a log file; its rows are merged into the
artifact when it finishes, through the same read_artifact/dump_artifact
pair the tools use, so a corrupt artifact stops the run before any
check starts and an interrupted run leaves every artifact whole.
A failing row is written like a passing one. The run ends with one
pass/fail table and exits 1 when any check failed.
"""

from __future__ import annotations

import multiprocessing
import os
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor, as_completed

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import fixtures  # noqa: E402
from tools.invariance_check import (  # noqa: E402
    body_hash,
    oracle_hash,
    write_artifact,
)
from tools.oracle_check import (  # noqa: E402
    dump_artifact,
    merge_rows,
    read_artifact,
)
from tools.plan_audit import STREAMING  # noqa: E402
from web_scraping_etl_pipeline_spark.plans import QUERIES  # noqa: E402

DATA = os.path.dirname(fixtures.TEMPLATE)
CORRECTNESS = {
    "CORRECTNESS_SF01.json": f"{DATA}/sf0.1",
    "CORRECTNESS_FULL.json": f"{DATA}/sf0.01",
    "CORRECTNESS_SF0001.json": fixtures.TEMPLATE,
}
INVARIANCE = "INVARIANCE.json"
PLANSHAPE = "PLANSHAPE.json"

#: concurrent checks besides the sf0.1 sweep, which runs alone: its
#: Spark driver and DuckDB oracle (capped at a quarter of the host's
#: memory) together need most of a 16 GB host.
WORKERS = 2

#: driver heap (-Xmx) per check. A driver JVM grows toward its heap
#: limit whether or not the data needs it: under the engine's 8 GB
#: default, two sf0.001 checks reached 5.3 and 5.9 GB resident within
#: five minutes. The small inputs need far less.
HEAP = {"CORRECTNESS_SF01.json": "6g"}
DEFAULT_HEAP = "3g"


def _path(artifact: str) -> str:
    return os.path.join(REPO, artifact)


def checks() -> list[tuple[str, str]]:
    """(kind, target) of the 14 checks, longest first, so the slow
    sf0.1 sweep does not start last."""
    return (
        [("oracle", a) for a in CORRECTNESS]
        + [("invariance", INVARIANCE)]
        + [("fixture", f) for f in fixtures.FIXTURES]
        + [("plan", PLANSHAPE)]
    )


def _rows(kind: str, target: str, artifacts: dict) -> dict:
    if kind == "fixture":
        return artifacts[fixtures.SWEEP].get(target, {})
    if kind == "invariance":
        return artifacts[target].get("queries", {})
    return artifacts[target]


def _covered(kind: str, names) -> list[str]:
    return [n for n in names if kind != "plan" or n not in STREAMING]


def stale_names(kind: str, target: str, artifacts: dict) -> list[str]:
    """Registered names whose row in this check's artifact is missing
    or carries another body (or, for oracle sweeps, oracle) hash."""
    rows = _rows(kind, target, artifacts)
    return [
        name
        for name in _covered(kind, sorted(QUERIES))
        if not isinstance(rows.get(name), dict)
        or rows[name].get("body_hash") != body_hash(name)
        or (
            kind in ("oracle", "fixture")
            and rows[name].get("oracle_hash") != oracle_hash(name)
        )
    ]


def _run(kind: str, target: str, names: list[str], log: str):
    """One check in a fresh process: (rows, failed names, seconds)."""
    fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    sys.stdout = os.fdopen(1, "w", buffering=1)
    sys.stderr = os.fdopen(2, "w", buffering=1)
    # the driver JVM this worker starts reads _JAVA_OPTIONS after its
    # command line, so the cap overrides the engine's
    # spark.driver.memory for this check only
    os.environ["_JAVA_OPTIONS"] = f"-Xmx{HEAP.get(target, DEFAULT_HEAP)}"
    start = time.time()
    if kind == "fixture":
        rows, failed = fixtures.sweep(target, names)
        return rows, failed, time.time() - start
    from web_scraping_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"restamp-{kind}")
    try:
        if kind == "oracle":
            from tools.oracle_check import check

            rows, failed = check(spark, CORRECTNESS[target], names)
        elif kind == "invariance":
            from tools.invariance_check import sweep

            rows, failed = sweep(spark, fixtures.TEMPLATE, names)
        else:
            from tools.plan_audit import audit_queries

            rows, errored, _ = audit_queries(spark, fixtures.TEMPLATE, names)
            failed = errored + [n for n, r in rows.items() if r["flags"]]
    finally:
        spark.stop()
    return rows, failed, time.time() - start


def merge(kind: str, target: str, rows: dict, failed: list[str]) -> None:
    """Merge one check's rows into its artifact, re-reading the file so
    rows merged by earlier checks are kept."""
    if kind == "oracle":
        prior = read_artifact(_path(target))
        dump_artifact(_path(target), merge_rows(prior, rows))
    elif kind == "fixture":
        sweep = read_artifact(fixtures.SWEEP)
        sweep[target] = merge_rows(sweep.get(target, {}), rows)
        dump_artifact(fixtures.SWEEP, sweep)
    elif kind == "invariance":
        write_artifact(_path(target), fixtures.TEMPLATE, rows)
    else:
        merged = {**read_artifact(_path(target)), **rows}
        # a name whose plan can no longer be built loses its old row,
        # so the coverage pin fails instead of a stale row passing
        for name in failed:
            if name not in rows:
                merged.pop(name, None)
        dump_artifact(_path(target), merged)


def main(argv: list[str]) -> int:
    unknown = [n for n in argv if n not in QUERIES]
    if unknown:
        raise SystemExit(f"not registered: {' '.join(unknown)}")
    # read everything first: a corrupt artifact stops the run up front
    artifacts = {
        a: read_artifact(_path(a))
        for a in (*CORRECTNESS, INVARIANCE, PLANSHAPE)
    }
    artifacts[fixtures.SWEEP] = read_artifact(fixtures.SWEEP)
    logs = tempfile.mkdtemp(prefix="restamp-")
    jobs = []
    for kind, target in checks():
        names = _covered(kind, argv) if argv else stale_names(
            kind, target, artifacts
        )
        if names:
            log = os.path.join(logs, f"{target}.log")
            jobs.append((kind, target, names, log))
    if not jobs:
        print("every artifact row is fresh")
        return 0
    print(f"{len(jobs)} checks to run; logs in {logs}", flush=True)
    table = []
    start = time.time()
    # the sf0.1 sweep runs alone, the smaller checks WORKERS at a time
    solo = [j for j in jobs if j[1] == "CORRECTNESS_SF01.json"]
    rest = [j for j in jobs if j not in solo]
    for batch, workers in ((solo, 1), (rest, WORKERS)):
        if not batch:
            continue
        with ProcessPoolExecutor(
            workers,
            mp_context=multiprocessing.get_context("spawn"),
            max_tasks_per_child=1,
        ) as pool:
            futures = {pool.submit(_run, *job): job for job in batch}
            for fut in as_completed(futures):
                kind, target, names, log = futures[fut]
                try:
                    rows, failed, secs = fut.result()
                except Exception as exc:  # noqa: BLE001 - report, go on
                    table.append(
                        (target, len(names), None, f"crashed: {exc!r}", 0, log)
                    )
                    continue
                merge(kind, target, rows, failed)
                table.append((target, len(names), len(failed), failed, secs, log))
                print(f"merged {target} ({secs:.0f}s)", flush=True)
    width = max(len(t[0]) for t in table)
    print(f"\n{'check':<{width}}  queries  failed  seconds")
    bad = 0
    for target, n, n_failed, failed, secs, log in table:
        shown = "-" if n_failed is None else n_failed
        print(f"{target:<{width}}  {n:>7}  {shown:>6}  {secs:>7.0f}")
        if n_failed != 0:
            bad += 1
            why = failed if isinstance(failed, str) else " ".join(failed[:10])
            print(f"  FAIL {why} (log: {log})")
    print(
        f"\n{len(table) - bad}/{len(table)} checks passed "
        f"in {time.time() - start:.0f}s"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
