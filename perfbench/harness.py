"""Spark session lifecycle and the traced mode's recorders.

Everything here acts from outside the engine: job groups set on the
SparkContext, a timing wrapper on ``DataFrameReader.parquet``, the
status tracker and the Spark event log. Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import resource
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: job group of work done outside any timed operation.
IDLE_GROUP = "bench:idle"
#: full GCs behind ``retained_heap_mb``, half a second apart.
GC_READINGS = 4


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


class StealMeter:
    """Share of the machine's CPU time the hypervisor stole since the
    meter was made. It is reported beside the times, which are wall
    times; it says how disturbed a run was, and corrects nothing."""

    def __init__(self):
        self._ticks = cpu_ticks()

    def share(self) -> float:
        busy, stolen = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        return stolen / (busy + stolen) if busy + stolen else 0.0


def log(msg: str) -> None:
    """Progress to stderr; stdout carries only the result line."""
    print(f"[perfbench {process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def submit_args(event_dir: str | None) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the session ``get_spark`` launches;
    with ``event_dir`` the event log is on and the status store keeps
    every job of the run."""
    args = ["--conf spark.ui.showConsoleProgress=false"]
    if event_dir:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
        ]
    return " ".join(args + ["pyspark-shell"])


def start_session():
    """``get_spark()``; returns (spark, start_s). Each workload warms the
    session with a round of its own operations."""
    from web_scraping_etl_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    start_s = time.perf_counter() - t0
    log(f"session started in {start_s:.2f}s")
    return spark, start_s


def peak_rss_mb(spark) -> float:
    """Driver JVM's VmHWM plus this process's peak RSS, in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after full GCs: what the session keeps.

    Python drops its py4j handles first. Spark's ContextCleaner and the
    asynchronous unpersists free blocks a while after a GC finds them
    unreachable, so the GC is repeated with pauses between and the
    smallest reading is kept: a single reading at a fixed delay was
    once 144 MB where its neighbours read 78 MB."""
    gc.collect()
    jvm = spark._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(GC_READINGS):
        jvm.java.lang.System.gc()
        used.append(heap.getHeapMemoryUsage().getUsed())
        time.sleep(0.5)
    return min(used) / 2**20


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes (PythonGatewayServer)
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Tracer:
    """Per-operation, per-phase recorder. Disabled, it only times."""

    def __init__(self, spark, star_dir: str | None, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._group = IDLE_GROUP
        self._spark = spark
        self._star_dir = star_dir
        self._origin = time.perf_counter()
        if enabled:
            self._sc = spark.sparkContext
            self._sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)
            self._wrap_parquet_reads()

    def _set_group(self, group: str) -> None:
        self._group = group
        self._sc.setJobGroup(group, group)

    @contextmanager
    def phase(self, op: str, name: str, parent: str | None = None):
        """Time one phase of ``op`` in its own job group ``op:name``.
        Yields a dict the caller may add counts to; it becomes the
        span."""
        span = {"op": op, "name": name, "parent": parent}
        if not self.enabled:
            yield span
            return
        outer = self._group
        self._set_group(f"{op}:{name}")
        span["start"] = time.perf_counter() - self._origin
        try:
            yield span
        finally:
            span["end"] = time.perf_counter() - self._origin
            self.spans.append(span)
            self._set_group(outer)

    def _wrap_parquet_reads(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        original = DataFrameReader.parquet
        tracer = self

        def parquet(reader, *paths, **options):
            star = tracer._star_dir and any(
                str(p).startswith(tracer._star_dir) for p in paths
            )
            if not star or tracer._group == IDLE_GROUP:
                return original(reader, *paths, **options)
            op = tracer._group.rsplit(":", 1)[0]
            with tracer.phase(op, "read", parent=tracer._group):
                return original(reader, *paths, **options)

        DataFrameReader.parquet = parquet
        self._unwrap = lambda: setattr(DataFrameReader, "parquet", original)

    def persisted_rdds(self) -> int:
        return self._spark.sparkContext._jsc.getPersistentRDDs().size()

    def jobs_by_group(self) -> dict[str, int]:
        """Jobs of every group recorded in a span, read through
        ``statusTracker()``; call before the session stops."""
        tracker = self._spark.sparkContext.statusTracker()
        groups = {f"{s['op']}:{s['name']}" for s in self.spans}
        return {g: len(tracker.getJobIdsForGroup(g)) for g in groups}

    def close(self) -> None:
        if self.enabled:
            self._unwrap()

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def event_log_by_group(event_dir: str) -> dict[str, dict]:
    """Stage and task totals per job group from the finished event log:
    stages, tasks, task_cpu_s, gc_s, shuffle_write_mb, input_mb."""
    totals: dict[str, dict] = defaultdict(
        lambda: {"stages": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_write_mb": 0.0, "input_mb": 0.0}
    )
    stage_group: dict[int, str] = {}
    files = [
        f for f in glob.glob(os.path.join(event_dir, "**"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    ]
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                        totals[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    t = totals[group]
                    t["tasks"] += 1
                    t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_write_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        ) / 2**20
                    )
                    t["input_mb"] += (
                        m.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
                    )
    return dict(totals)
