"""Per-query job/stage profiler (guide section 1: measure first).

Runs the named queries (default: none - pass names) exactly like
bench.py's run_one (full plan -> noop sink), with the Spark event log
enabled, then parses the event log to attribute wall time to Spark
jobs and stages per query:

- per query: wall sec, #jobs, #stages, #tasks, sum of task time,
  executor run time vs scheduler/other gap (wall - sum(stage wall)).
- per stage: name/details, task count, wall, task-time sum, shuffle
  read/write bytes.

Usage: python tools/profile_suite.py SF_DIR QUERY [QUERY ...]
Writes /tmp/profile_<query>.json per query plus a summary to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from web_scraping_etl_pipeline_spark.plans import QUERIES  # noqa: E402
from web_scraping_etl_pipeline_spark.plans.common import (  # noqa: E402
    release_transients,
)
from web_scraping_etl_pipeline_spark.session import (  # noqa: E402
    BUILD_CONF,
    RUNTIME_CONF,
    configure,
    default_parallelism,
)


def get_profiling_spark(log_dir: str):
    from pyspark.sql import SparkSession  # noqa: PLC0415

    os.makedirs(log_dir, exist_ok=True)
    cores = default_parallelism()
    builder = SparkSession.builder.appName("profile")
    builder = builder.master(f"local[{cores}]")
    for key, value in {**BUILD_CONF, **RUNTIME_CONF}.items():
        builder = builder.config(key, value)
    builder = builder.config("spark.sql.shuffle.partitions", str(cores))
    builder = builder.config("spark.eventLog.enabled", "true")
    builder = builder.config("spark.eventLog.dir", f"file://{log_dir}")
    builder = builder.config("spark.eventLog.compress", "false")
    builder = builder.config("spark.eventLog.rolling.enabled", "false")
    return configure(builder.getOrCreate())


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    log_dir = "/tmp/spark-events"
    spark = get_profiling_spark(log_dir)
    sc = spark.sparkContext

    # session warmups, mirroring bench.py (unbilled)
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    spans: dict[str, tuple[float, float]] = {}
    for name in names:
        sc.setJobDescription(f"profile:{name}")
        t0 = time.time()
        try:
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            print(f"ERR {name}: {exc}", file=sys.stderr)
        spans[name] = (t0, time.time())
        sc.setJobDescription(None)
        release_transients()
        print(
            f"ran {name}: {spans[name][1] - t0:.3f}s", file=sys.stderr,
            flush=True,
        )

    app_id = sc.applicationId
    spark.stop()
    time.sleep(1.0)

    # ---- parse the event log ------------------------------------------
    # Spark 4 rolling layout: eventlog_v2_<appId>/events_*_<appId>[.ext]
    paths = []
    direct = os.path.join(log_dir, app_id)
    v2 = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isfile(direct):
        paths = [direct]
    elif os.path.isdir(v2):
        paths = sorted(
            os.path.join(v2, p)
            for p in os.listdir(v2)
            if p.startswith("events_")
        )
    else:
        cands = [p for p in os.listdir(log_dir) if app_id in p]
        paths = [os.path.join(log_dir, cands[0])] if cands else []
    if not paths:
        print(f"no event log for {app_id}", file=sys.stderr)
        return 1

    def lines():
        for p in paths:
            with open(p) as fh:
                yield from fh

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines():
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "t0": ev["Submission Time"] / 1000.0,
                "desc": ev.get("Properties", {}).get(
                    "spark.job.description", ""
                ),
                "stage_ids": [
                    s["Stage ID"] for s in ev.get("Stage Infos", [])
                ],
            }
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["t1"] = ev["Completion Time"] / 1000.0
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            stages[sid] = {
                "name": si.get("Stage Name", ""),
                "tasks": si.get("Number of Tasks", 0),
                "t0": si.get("Submission Time", 0) / 1000.0,
                "t1": si.get("Completion Time", 0) / 1000.0,
            }
        elif e == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, {})
            m = ev.get("Task Metrics") or {}
            st["task_time_ms"] = st.get("task_time_ms", 0) + m.get(
                "Executor Run Time", 0
            )
            st["deser_ms"] = st.get("deser_ms", 0) + m.get(
                "Executor Deserialize Time", 0
            )
            st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
            srm = m.get("Shuffle Read Metrics") or {}
            st["shuf_read"] = (
                st.get("shuf_read", 0)
                + srm.get("Remote Bytes Read", 0)
                + srm.get("Local Bytes Read", 0)
            )
            st["fetch_wait_ms"] = st.get("fetch_wait_ms", 0) + srm.get(
                "Fetch Wait Time", 0
            )
            swm = m.get("Shuffle Write Metrics") or {}
            st["shuf_write"] = st.get("shuf_write", 0) + swm.get(
                "Shuffle Bytes Written", 0
            )

    summary = {}
    for name, (t0, t1) in spans.items():
        qjobs = [
            j
            for j in jobs.values()
            if j.get("desc") == f"profile:{name}" and "t1" in j
        ]
        sids = sorted({s for j in qjobs for s in j["stage_ids"] if s in stages})
        jtotal = sum(j["t1"] - j["t0"] for j in qjobs)
        srows = []
        for sid in sids:
            st = stages[sid]
            if "t1" not in st or not st.get("t1"):
                continue
            srows.append(
                {
                    "stage": sid,
                    "name": st.get("name", "")[:90],
                    "tasks": st.get("tasks", 0),
                    "wall_s": round(st["t1"] - st["t0"], 3),
                    "task_s": round(st.get("task_time_ms", 0) / 1000.0, 3),
                    "deser_s": round(st.get("deser_ms", 0) / 1000.0, 3),
                    "gc_s": round(st.get("gc_ms", 0) / 1000.0, 3),
                    "shuf_read_kb": round(st.get("shuf_read", 0) / 1024.0, 1),
                    "shuf_write_kb": round(
                        st.get("shuf_write", 0) / 1024.0, 1
                    ),
                    "fetch_wait_s": round(
                        st.get("fetch_wait_ms", 0) / 1000.0, 3
                    ),
                }
            )
        summary[name] = {
            "wall_s": round(t1 - t0, 3),
            "n_jobs": len(qjobs),
            "jobs_wall_s": round(jtotal, 3),
            "gap_s": round((t1 - t0) - jtotal, 3),
            "n_stages": len(srows),
            "n_tasks": sum(r["tasks"] for r in srows),
            "task_time_s": round(sum(r["task_s"] for r in srows), 3),
            "stages": srows,
        }
        with open(f"/tmp/profile_{name}.json", "w") as fh:
            json.dump(summary[name], fh, indent=1)

    for name, s in summary.items():
        print(
            f"{name}: wall={s['wall_s']}s jobs={s['n_jobs']} "
            f"(jobs_wall={s['jobs_wall_s']}s gap={s['gap_s']}s) "
            f"stages={s['n_stages']} tasks={s['n_tasks']} "
            f"task_time={s['task_time_s']}s"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
