"""Benchmark of the engine: ad-hoc SQL, iterative driver loops and the
daily jobs ETL, with checked results and a traced per-layer mode.

Usage (from the repository root):

    python3 perfbench/run.py --workload queries|jobs_etl \
        --seed N --seconds S --trace 0|1

One Spark session at ``local[nproc]`` per run. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json, with ``--trace 1`` the per-layer ones. Everything a run
writes (Spark local dirs, event log, bronze, silver) lives under
``perfbench/.run/`` and is removed at the end; traced runs keep their
spans in ``perfbench/.out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import etl, queries  # noqa: E402
from perfbench.harness import (  # noqa: E402
    StealMeter,
    Tracer,
    event_log_by_group,
    log,
    peak_rss_mb,
    process_age_s,
    retained_heap_mb,
    start_session,
    stop_session,
    submit_args,
)

WORKLOADS = ("queries", "jobs_etl")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``;
    must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "events")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "TZ": "UTC",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": submit_args(
                os.path.join(work, "events") if trace else None
            ),
        }
    )
    time.tzset()


class Context:
    """What a workload needs from the harness, and what it leaves."""

    def __init__(self, args, work: str, sf_dir: str, inputs, input_s: float):
        self.args = args
        self.work = work
        self.sf_dir = sf_dir
        self.inputs = inputs
        self.input_s = input_s
        self.spark, self.start_s = start_session()
        self.tracer = Tracer(self.spark, sf_dir, bool(args.trace))
        self.setup_s = None
        self.jobs: dict[str, int] = {}

    def mark_setup_done(self) -> None:
        """Called right before the first timed operation."""
        self.setup_s = process_age_s() - self.input_s
        self._steal = StealMeter()
        log(f"warm-up done, setup_s={self.setup_s:.2f}")

    def finish_spark(self) -> None:
        """Read memory and job counts, then stop Spark and its JVM."""
        self.steal_pct = 100.0 * self._steal.share()
        log(f"timed rounds done; the host stole {self.steal_pct:.0f}% of the CPU time")
        self.peak_rss_mb = peak_rss_mb(self.spark)
        self.retained_heap_mb = retained_heap_mb(self.spark)
        if self.tracer.enabled:
            self.jobs = self.tracer.jobs_by_group()
            self.tracer.close()
        stop_session(self.spark)
        self.spark = None
        log("session stopped")


def _median_over_rounds(per_round: dict[str, float]) -> float:
    return statistics.median(per_round.values()) if per_round else 0.0


def _per_op_best(records) -> dict[str, float]:
    """Per operation, its fastest timed round."""
    best: dict[str, float] = {}
    for r in records:
        best[r["name"]] = min(r["s"], best.get(r["name"], r["s"]))
    return best


def end_to_end(ctx, out) -> dict:
    records = out["records"]
    best = _per_op_best(records)
    ops = [v for n, v in best.items() if n != "refresh"]
    if ctx.args.workload == "jobs_etl":
        per_row = statistics.median(
            r["bytes"] / r["rows"] for r in records if r["name"] == "refresh"
        )
    else:
        first = [r for r in records if r["round"] == "r1"]
        per_row = sum(r["bytes"] for r in first) / max(
            1, sum(r["rows"] for r in first)
        )
    return {
        "setup_s": (ctx.setup_s, "s"),
        "wall_s": (sum(best.values()), "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "retained_heap_mb": (ctx.retained_heap_mb, "MB"),
        "out_bytes_per_row": (per_row, "bytes"),
    }


def per_layer(ctx, out, events: dict[str, dict]) -> dict:
    """Per-layer figures: totals over one timed round, median over
    rounds. Phases are told apart by their job group ``op:phase``."""
    records = out["records"]
    rounds = sorted({r["round"] for r in records})
    spans = ctx.tracer.spans
    exec_phases = ("exec", "batch", "refresh")

    def rsum(key, kind=None):
        per = {}
        for r in records:
            if key in r and (kind is None or r.get("kind") == kind):
                per[r["round"]] = per.get(r["round"], 0.0) + r[key]
        return _median_over_rounds(per)

    def span_sum(phase, value):
        per = {str(k): 0.0 for k in rounds}
        for s in spans:
            rnd = s["op"].split(":", 1)[0]
            if s["name"] == phase and rnd in per:
                per[rnd] += value(s)
        return _median_over_rounds(per)

    def group_sum(phases, table, key=None):
        per = {str(k): 0.0 for k in rounds}
        for group, v in table.items():
            rnd, phase = group.split(":", 1)[0], group.rsplit(":", 1)[1]
            if rnd in per and phase in phases:
                per[rnd] += v if key is None else v[key]
        return _median_over_rounds(per)

    read_s = span_sum("read", lambda s: s["end"] - s["start"])
    metrics = {
        "session.start_s": (ctx.start_s, "s"),
        "session.peak_rss_mb": (ctx.peak_rss_mb, "MB"),
        "host.steal_pct": (ctx.steal_pct, "%"),
        "sources.star.reads": (span_sum("read", lambda s: 1), "count"),
        "sources.star.read_s": (read_s, "s"),
        "sources.star.read_jobs": (group_sum(("read",), ctx.jobs), "count"),
        "plans.build_s": (max(0.0, rsum("build_s") - read_s), "s"),
        "plans.build_jobs": (group_sum(("build",), ctx.jobs), "count"),
        "plans.plan_s": (rsum("plan_s"), "s"),
        "plans.exchanges": (rsum("exchanges"), "count"),
        "exec.run_s": (rsum("run_s"), "s"),
        "exec.jobs": (group_sum(exec_phases, ctx.jobs), "count"),
    }
    for key, unit in (
        ("stages", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
        ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("input_mb", "MB"),
    ):
        metrics[f"exec.{key}"] = (group_sum(exec_phases, events, key), unit)
    metrics.update(
        {
            "plans.common.release_s": (rsum("release_s"), "s"),
            "plans.common.persisted_left": (rsum("persisted_left"), "count"),
            "pipeline.batch_s": (rsum("s", "batch"), "s"),
            "pipeline.batch_jobs": (group_sum(("batch",), ctx.jobs), "count"),
            "pipeline.silver_scan_mb": (rsum("silver_scan_mb"), "MB"),
            "pipeline.write_mb": (rsum("write_mb"), "MB"),
            "functions.parse_s": (rsum("parse_s"), "s"),
            "pipeline.refresh_s": (rsum("s", "refresh"), "s"),
            "trace.wall_s": (rsum("s"), "s"),
        }
    )
    return metrics


def run(args, work: str) -> dict:
    prepare_env(work, bool(args.trace))
    # the engine's registry and its test-data location; a checkout
    # without the engine fails here, before any result is printed
    import __spark_entry__

    sf_dir = os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), "sf0.1")
    inputs, input_s = None, 0.0
    if args.workload == "jobs_etl":
        t = time.perf_counter()
        feed = etl.make_feed(args.seed, etl.ROWS_PER_DAY)
        inputs = (feed, etl.write_feed(feed, os.path.join(work, "bronze")))
        input_s = time.perf_counter() - t
    elif not os.path.isdir(sf_dir):
        raise SystemExit(f"test data not found: {sf_dir}")

    ctx = Context(args, work, sf_dir, inputs, input_s)
    try:
        if args.workload == "jobs_etl":
            out = etl.run(ctx, args.seconds)
        else:
            out = queries.run(ctx, args.seconds)
    finally:
        if ctx.spark is not None:  # the workload raised: just stop
            stop_session(ctx.spark)
    for problem in out["problems"]:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(ctx, out, event_log_by_group(os.path.join(work, "events")))
        ctx.tracer.write(
            os.path.join(HERE, ".out", f"trace-{args.workload}-{args.seed}.json"),
            {"jobs": ctx.jobs, "records": out["records"]},
        )
    else:
        metrics = end_to_end(ctx, out)
    return {
        "correct": not out["problems"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(HERE, ".run", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
