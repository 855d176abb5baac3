"""Driver-checked probe of the batch-pipeline WRITE paths.

The incremental pipeline (pipeline.py run_batch / run_batch_bucketed)
was previously pytest-only; these queries run it end to end inside the
driver's oracle gate so its VALUES - not just its mechanics - are
pinned every sweep (VERDICT r4 item 8). The raw batch is synthesized
deterministically from ``part`` so a plain SQL oracle can state the
expected silver contents without re-implementing the parse (the
scalar semantics themselves are pinned separately by q11-q13).

Reference parity: the probe drives the same clean -> transform ->
anti-join-dedup -> silver write lineage as the reference's Airflow
chain (/root/reference/airflow/dags/topcv_flow.py:27-65 and
/root/reference/src/topcv_pipeline.py:104-167), against the bucketed
silver table that is the 100 TB deploy form of the job_link dedup.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from ..sources.star import ANCHOR_US, US_PER_DAY
from .common import t
from .registry import query

_HOUR_US = 3_600_000_000

#: silver rows come back as epoch-us bigints so the oracle never
#: touches timestamp typing. DISTINCT: the pipeline keeps one row per
#: job_link even when a batch repeats one (a duplicated part row).
_PROBE_ORACLE = f"""
    SELECT DISTINCT
           'https://jobs/' || CAST(p_partkey AS VARCHAR) AS job_link,
           trim(p_name) AS job_name,
           CASE WHEN p_partkey % 2 = 0
                THEN ((p_partkey % 50 + 1) + (p_partkey % 50 + 11)) / 2.0
           END AS salary,
           p_brand AS company_name,
           {ANCHOR_US} - (p_partkey % 100 + 1) * {_HOUR_US} AS posted_us,
           p_type AS job_location,
           'Còn ' || CAST(p_partkey % 20 + 1 AS VARCHAR)
             || ' ngày để ứng tuyển' AS remaining_time,
           {ANCHOR_US} + (p_partkey % 20 + 1) * {US_PER_DAY} AS due_us
    FROM part
    WHERE p_partkey % 10 = 0
"""


def _raw_batch(spark, sf_dir):
    """Deterministic JOBS_RAW batch from ``part``: salary text in the
    'a - b triệu' / sentinel shapes, posted/due anchored to ANCHOR_US.
    A 1-in-10 partkey slice: the probe pins the PATH (clean ->
    transform -> dedup -> write, twice), not scan volume - the full
    tables are every other query's job."""
    part = t(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    k1 = (F.col("p_partkey") % 50 + 1).cast("string")
    k2 = (F.col("p_partkey") % 50 + 11).cast("string")
    salary_text = F.when(
        F.col("p_partkey") % 2 == 0,
        F.concat(k1, F.lit(" - "), k2, F.lit(" triệu")),
    ).otherwise(F.lit("Thỏa thuận"))
    posted_us = F.lit(ANCHOR_US) - (
        F.col("p_partkey") % 100 + 1
    ) * F.lit(_HOUR_US)
    due_us = F.lit(ANCHOR_US) + (F.col("p_partkey") % 20 + 1) * F.lit(
        US_PER_DAY
    )
    return part.select(
        F.col("p_name").alias("job_name"),
        F.concat(F.lit("https://jobs/"), F.col("p_partkey")).alias(
            "job_link"
        ),
        salary_text.alias("salary"),
        F.col("p_brand").alias("company_name"),
        F.lit(None).cast("string").alias("update_text"),
        F.col("p_type").alias("job_location"),
        F.lit(None).cast("string").alias("remaining_time_text"),
        F.timestamp_micros(posted_us).alias("posted_date"),
        F.timestamp_micros(due_us).alias("due_date"),
    )


def _silver_presentation(df):
    return df.select(
        "job_link",
        "job_name",
        "salary",
        "company_name",
        F.unix_micros("posted_date").alias("posted_us"),
        "job_location",
        "remaining_time",
        F.unix_micros("due_date").alias("due_us"),
    )



#: presentation schema, also the empty-day result shape: on a day the
#: scraper finds NOTHING the empty-batch gate (F6) skips the silver
#: write entirely, so the probes must return an empty TYPED frame
#: instead of crashing on the missing path/table (r11 empty-corpus
#: census; the oracle over an empty `part` agrees with 0 rows).
_SILVER_VIEW_SCHEMA = (
    "job_link string, job_name string, salary double, "
    "company_name string, posted_us bigint, job_location string, "
    "remaining_time string, due_us bigint"
)


def _silver_exists(path: str) -> bool:
    import os

    return os.path.isdir(path)


@query("q271_pipeline_silver", oracle=_PROBE_ORACLE)
def q271_pipeline_silver(spark, sf_dir):
    """run_batch end to end: synthesize the raw batch, run TWO
    incremental batches into a scratch parquet silver (the second is a
    watermark+anti-join no-op - replay idempotency is part of what the
    oracle's one-copy-per-link row count pins), read silver back.

    Scale: the pipeline itself is the scale story (one pass, pruned
    anti-join; see pipeline.py docstrings); this probe adds only the
    scratch write."""
    from ..pipeline import run_batch

    scratch = tempfile.mkdtemp(prefix="wsep-q271-")
    try:
        raw = _raw_batch(spark, sf_dir)
        silver = f"{scratch}/silver"
        state = f"{scratch}/state.json"
        run_batch(spark, raw, silver, state, now_us=ANCHOR_US)
        run_batch(spark, raw, silver, state, now_us=ANCHOR_US)  # no-op
        if not _silver_exists(silver):  # empty scrape day: F6 skipped
            return spark.createDataFrame([], _SILVER_VIEW_SCHEMA)
        out = _silver_presentation(spark.read.parquet(silver))
        # materialize before the scratch dir disappears
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query("q272_pipeline_silver_bucketed", oracle=_PROBE_ORACLE)
def q272_pipeline_silver_bucketed(spark, sf_dir):
    """run_batch_bucketed end to end: same two-batch probe against the
    BUCKETED-by-job_link silver table (the zero-silver-exchange dedup
    form - pipeline.py:run_batch_bucketed's plan property is pinned by
    tests/test_pipeline.py; this entry pins its VALUES in the driver
    gate)."""
    from ..pipeline import run_batch_bucketed

    table = "wsep_q272_silver_probe"
    scratch = tempfile.mkdtemp(prefix="wsep-q272-")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        raw = _raw_batch(spark, sf_dir)
        state = f"{scratch}/state.json"
        run_batch_bucketed(spark, raw, table, state, now_us=ANCHOR_US)
        run_batch_bucketed(spark, raw, table, state, now_us=ANCHOR_US)
        if not spark.catalog.tableExists(table):  # empty scrape day
            return spark.createDataFrame([], _SILVER_VIEW_SCHEMA)
        out = _silver_presentation(spark.table(table))
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(scratch, ignore_errors=True)


#: refresh probe clock: 10 days + 3 hours past the write-time anchor,
#: so the re-render moves every silver row to a DIFFERENT bucket than
#: the one materialized at write (days 1-10 -> expired, day 11 ->
#: '21 giờ', days 12-20 -> 'd-11 ngày') - a refresh that accidentally
#: no-ops cannot pass the oracle.
_REFRESH_NOW_US = ANCHOR_US + 10 * US_PER_DAY + 3 * _HOUR_US

_REFRESH_ORACLE = f"""
    WITH s AS (
      SELECT DISTINCT p_partkey,
             ({ANCHOR_US} + (p_partkey % 20 + 1) * {US_PER_DAY}
              - {_REFRESH_NOW_US}) // 1000000 AS diff_s
      FROM part WHERE p_partkey % 10 = 0
    )
    SELECT 'https://jobs/' || CAST(p_partkey AS VARCHAR) AS job_link,
           CASE
             WHEN diff_s <= 0 THEN 'Đã hết thời gian ứng tuyển'
             WHEN diff_s < 60 THEN 'Còn ' || CAST(diff_s AS VARCHAR)
                  || ' giây để ứng tuyển'
             WHEN diff_s < 3600 THEN 'Còn ' || CAST(diff_s // 60 AS VARCHAR)
                  || ' phút để ứng tuyển'
             WHEN diff_s < 86400 THEN 'Còn ' || CAST(diff_s // 3600 AS VARCHAR)
                  || ' giờ để ứng tuyển'
             ELSE 'Còn ' || CAST(diff_s // 86400 AS VARCHAR)
                  || ' ngày để ứng tuyển'
           END AS remaining_time
    FROM s
"""


@query("q278_remaining_time_refresh", oracle=_REFRESH_ORACLE)
def q278_remaining_time_refresh(spark, sf_dir):
    """The reference's DAILY stored-procedure refresh, end to end
    (/root/reference/script.sql:13-49, daily intent README.md:19):
    build a scratch silver at ANCHOR_US, advance the clock 10 days 3
    hours, run pipeline.refresh_remaining_time (tmp-write + validate +
    swap rewrite), and return (job_link, remaining_time) from the
    refreshed table. The oracle recomputes every bucket at the new
    clock, so both the render semantics AND the in-place rewrite
    actually landing are value-pinned in the driver gate.

    Scale: the refresh is a map-only scan -> project -> write (zero
    shuffles); see pipeline.refresh_remaining_time."""
    from ..pipeline import refresh_remaining_time, run_batch

    scratch = tempfile.mkdtemp(prefix="wsep-q278-")
    try:
        raw = _raw_batch(spark, sf_dir)
        silver = f"{scratch}/silver"
        state = f"{scratch}/state.json"
        run_batch(spark, raw, silver, state, now_us=ANCHOR_US)
        if not _silver_exists(silver):  # empty scrape day: F6 skipped
            return spark.createDataFrame(
                [], "job_link string, remaining_time string"
            )
        refresh_remaining_time(spark, silver, now_us=_REFRESH_NOW_US)
        out = spark.read.parquet(silver).select(
            "job_link", "remaining_time"
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
