"""End-to-end incremental pipeline test (SURVEY.md section 5 item 3).

Synthetic raw batch -> incremental filter -> clean -> transform ->
silver; asserts silver contents, watermark advancement, re-run
idempotency (second run is a no-op), and the empty-batch skip path.
"""

import datetime as dt

import pytest

from web_scraping_etl_pipeline_spark.pipeline import clean, run_batch, transform
from web_scraping_etl_pipeline_spark.schemas import JOBS_RAW
from web_scraping_etl_pipeline_spark.sources.state import (
    read_last_processed_time,
    write_last_processed_time,
)

BASE = dt.datetime(2025, 6, 20, 5, 0, 0)
BASE_US = int((BASE - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _raw_batch(spark):
    rows = [
        # (job_name, link, salary, company, update_text, location,
        #  remaining_text, posted_date, due_date)
        (
            "Senior Python Developer - Up to $2,000",
            "https://x/1",
            "1,000 - 2,000 USD",
            "Acme",
            "Cập nhật 3 giờ trước",
            "Hồ Chí Minh",
            "Còn 24 ngày để ứng tuyển",
            BASE - dt.timedelta(hours=3),
            BASE + dt.timedelta(days=24),
        ),
        (
            "Data Engineer (ETL/Spark) - Hà Nội",
            "https://x/2",
            "10 - 20 triệu",
            "O'Reilly & Sons",  # quote in name: B5 regression guard
            "Cập nhật 2 ngày trước",
            "Hà Nội",
            "Còn 2 giờ để ứng tuyển",
            BASE - dt.timedelta(days=2),
            BASE + dt.timedelta(hours=2),
        ),
        (
            "Tester",
            "https://x/3",
            "Thỏa thuận",
            "Beta",
            "Cập nhật 5 ngày trước",  # older than watermark -> filtered
            "Đà Nẵng",
            "Còn 1 ngày để ứng tuyển",
            BASE - dt.timedelta(days=5),
            BASE + dt.timedelta(days=1),
        ),
    ]
    return spark.createDataFrame(rows, schema=JOBS_RAW)


def test_run_batch_incremental(spark, tmp_path):
    silver = str(tmp_path / "silver")
    state = str(tmp_path / "state.json")
    write_last_processed_time(state, BASE - dt.timedelta(days=3))

    res = run_batch(spark, _raw_batch(spark), silver, state, now_us=BASE_US)
    assert res["rows"] == 2  # row 3 older than watermark
    assert res["watermark"] == BASE - dt.timedelta(hours=3)

    got = {r["job_link"]: r for r in spark.read.parquet(silver).collect()}
    assert set(got) == {"https://x/1", "https://x/2"}
    r1 = got["https://x/1"]
    assert r1["job_name"] == "Senior Python Developer"
    assert r1["salary"] == pytest.approx((23.0 + 46.0) / 2)
    assert r1["remaining_time"] == "Còn 24 ngày để ứng tuyển"
    r2 = got["https://x/2"]
    assert r2["salary"] == pytest.approx(15.0)  # B2 fixed: mean(10,20)
    assert r2["company_name"] == "O'Reilly & Sons"
    assert r2["remaining_time"] == "Còn 2 giờ để ứng tuyển"

    # re-run: watermark + anti-join make it a no-op; state not rewritten
    res2 = run_batch(spark, _raw_batch(spark), silver, state, now_us=BASE_US)
    assert res2["skipped"] and res2["rows"] == 0
    assert spark.read.parquet(silver).count() == 2
    assert read_last_processed_time(state) == BASE - dt.timedelta(hours=3)


def test_run_batch_corrupt_silver_raises(spark, tmp_path):
    # A silver dir that exists but is unreadable must raise - NOT fall
    # back to "no silver yet", which would skip the anti-join dedup and
    # silently append duplicates (the reference's B4 replay bug).
    silver = tmp_path / "silver"
    silver.mkdir()
    (silver / "part-00000.parquet").write_text("this is not parquet")
    state = str(tmp_path / "state.json")
    with pytest.raises(Exception):
        run_batch(spark, _raw_batch(spark), str(silver), state, now_us=BASE_US)
    # and the watermark must not have advanced
    assert read_last_processed_time(state) is None


def test_run_batch_first_run_full_load(spark, tmp_path):
    # missing state file -> None watermark -> full load (S4 semantics)
    silver = str(tmp_path / "silver")
    state = str(tmp_path / "state.json")
    res = run_batch(spark, _raw_batch(spark), silver, state, now_us=BASE_US)
    assert res["rows"] == 3
    assert read_last_processed_time(state) == BASE - dt.timedelta(hours=3)


def test_run_batch_drops_within_batch_duplicates(spark, tmp_path):
    # the anti-join only sees silver, so a batch that repeats a
    # job_link must be deduplicated on its own (as the streaming merge
    # does); both the parquet and the bucketed path keep one row.
    from web_scraping_etl_pipeline_spark.pipeline import run_batch_bucketed

    rows = _raw_batch(spark).collect()
    dup = spark.createDataFrame([rows[0], rows[1], rows[0]], schema=JOBS_RAW)

    silver = str(tmp_path / "silver")
    state = str(tmp_path / "s.json")
    res = run_batch(spark, dup, silver, state, now_us=BASE_US)
    got = [r["job_link"] for r in spark.read.parquet(silver).collect()]
    assert res["rows"] == 2
    assert sorted(got) == ["https://x/1", "https://x/2"]

    table = "silver_jobs_dup_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        res = run_batch_bucketed(
            spark, dup, table, str(tmp_path / "b.json"), now_us=BASE_US
        )
        assert res["rows"] == 2 and spark.table(table).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_run_batch_bucketed(spark, tmp_path):
    # Scale path: silver as a bucketed-by-job_link table. Asserts the
    # same incremental semantics as run_batch PLUS the plan property the
    # bucketing buys: the dedup anti-join reads silver bucket-aligned
    # with no Exchange on the silver side (only the batch shuffles).
    from web_scraping_etl_pipeline_spark.pipeline import run_batch_bucketed

    table = "silver_jobs_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    state = str(tmp_path / "state.json")

    res = run_batch_bucketed(spark, _raw_batch(spark), table, state, now_us=BASE_US)
    assert res["rows"] == 3  # no watermark -> full load
    assert spark.table(table).count() == 3

    # replay: watermark + anti-join make it a no-op
    res2 = run_batch_bucketed(spark, _raw_batch(spark), table, state, now_us=BASE_US)
    assert res2["skipped"] and spark.table(table).count() == 3

    # plan property: with broadcast off (as when silver outgrows the
    # threshold), the anti-join must shuffle ONLY the batch side.
    spark.sql(f"DROP TABLE IF EXISTS {table}_plan")
    run_batch_bucketed(
        spark, _raw_batch(spark), f"{table}_plan", str(tmp_path / "s2.json"),
        now_us=BASE_US,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch = transform(clean(_raw_batch(spark)), now_us=BASE_US)
        anti = batch.join(
            spark.table(f"{table}_plan").select("job_link"),
            on="job_link", how="left_anti",
        )
        plan = anti._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {table}_plan")
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # batch side only


def test_run_batch_single_pass(spark, tmp_path, monkeypatch):
    # VERDICT r4 item 4: the F6/A2 stats action and the silver write
    # must share ONE computation of the clean+anti-join lineage. The
    # batch is persisted before the stats action and unpersisted after
    # the write; this spy pins that contract (a cached plan means the
    # write replays from the in-memory batch, not a second scan).
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"persist": 0, "unpersist": 0, "cached_at_write": None}
    orig_persist = DataFrame.persist
    orig_unpersist = DataFrame.unpersist
    orig_write = DataFrame.write

    def spy_persist(self, *a, **kw):
        calls["persist"] += 1
        return orig_persist(self, *a, **kw)

    def spy_unpersist(self, *a, **kw):
        calls["unpersist"] += 1
        return orig_unpersist(self, *a, **kw)

    @property
    def spy_write(self):
        # the written frame is the observe() wrapper around the cached
        # batch, so check the CONTRACT (one persist still live at write
        # time) plus lineage: the wrapper's plan must contain the
        # in-memory relation, i.e. the write replays from cache.
        calls["cached_at_write"] = (
            calls["persist"] - calls["unpersist"] == 1
            and "InMemoryRelation"
            in self._jdf.queryExecution().optimizedPlan().toString()
        )
        return orig_write.fget(self)

    monkeypatch.setattr(DataFrame, "persist", spy_persist)
    monkeypatch.setattr(DataFrame, "unpersist", spy_unpersist)
    monkeypatch.setattr(DataFrame, "write", spy_write)

    silver = str(tmp_path / "silver")
    state = str(tmp_path / "state.json")
    res = run_batch(spark, _raw_batch(spark), silver, state, now_us=BASE_US)
    assert res["rows"] == 3
    assert calls["persist"] == 1 and calls["unpersist"] == 1
    assert calls["cached_at_write"] is True


def test_observed_write_metrics_match_stats(spark, tmp_path):
    """observe() telemetry rides the silver WRITE job: rows_written
    must equal the gate's pre-write count, and the null-salary counter
    must match a direct count - no extra action, no drift between the
    two channels."""
    from pyspark.sql import functions as F

    silver = str(tmp_path / "silver")
    state = str(tmp_path / "state.json")
    res = run_batch(spark, _raw_batch(spark), silver, state, now_us=BASE_US)
    m = res["metrics"]
    assert m["rows_written"] == res["rows"]
    nulls = (
        spark.read.parquet(silver).filter(F.col("salary").isNull()).count()
    )
    assert m["null_salary_rows"] == nulls
