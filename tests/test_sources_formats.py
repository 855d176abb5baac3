"""Source-format breadth for the S1 landing boundary (SURVEY.md
section 2.1): csv / json / orc round-trips with explicit schemas, and
the malformed-row policy (FAILFAST default, permissive dead-letter
opt-in)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tests.conftest import SF_DIR
from web_scraping_etl_pipeline_spark.sources.ingest import read_landing

EV_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def sample(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id", "user_id", "event_type", F.round("value", 6).alias("value"))
        .limit(200)
        .cache()
    )


@pytest.mark.parametrize("fmt", ["json", "csv", "orc", "parquet"])
def test_landing_roundtrip(spark, sample, fmt, tmp_path):
    """Every landing format must round-trip the batch losslessly under
    an explicit schema (no inferSchema on the pipeline path)."""
    path = str(tmp_path / fmt)
    w = sample.write.mode("overwrite")
    if fmt == "csv":
        w = w.option("header", "true")
    getattr(w, fmt)(path)
    back = read_landing(spark, path, fmt=fmt, schema=EV_SCHEMA)
    want = sorted(tuple(r) for r in sample.collect())
    got = sorted(tuple(r) for r in back.collect())
    assert got == want


def test_failfast_raises_on_corrupt_json(spark, tmp_path):
    """Default policy: a corrupt line must abort the read, not vanish."""
    p = tmp_path / "bad.json"
    p.write_text('{"event_id": 1, "user_id": 2, "event_type": "x", "value": 1.5}\n{not json\n')
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        read_landing(spark, str(tmp_path), fmt="json", schema=EV_SCHEMA).collect()


def test_permissive_routes_corrupt_to_dead_letter(spark, tmp_path):
    """Permissive mode: corrupt lines arrive whole in _corrupt_record
    (other fields NULL), clean lines parse normally, nothing is lost."""
    p = tmp_path / "bad.json"
    p.write_text('{"event_id": 1, "user_id": 2, "event_type": "x", "value": 1.5}\n{not json\n')
    df = read_landing(
        spark, str(tmp_path), fmt="json", schema=EV_SCHEMA, permissive=True
    ).cache()
    assert df.count() == 2
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 1
    assert bad.first()["event_id"] is None
    good = df.filter(F.col("_corrupt_record").isNull())
    assert good.first()["event_id"] == 1


def test_ts_us_ntz_is_session_tz_independent(spark):
    """The NTZ branch of ts_us_col must yield identical epoch micros
    under any session timezone (regression for the timestampdiff fix:
    a cast-to-timestamp derivation silently shifted NTZ events by the
    session offset)."""
    from pyspark.sql import functions as F

    from web_scraping_etl_pipeline_spark.sources.star import ts_us_col

    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-15 00:00:00' AS ts"
    )
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    expected = 1_705_276_800_000_000  # 2024-01-15T00:00:00Z in micros
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "Asia/Ho_Chi_Minh", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = df.select(ts_us_col(df).alias("us")).first().us
            assert got == expected, (tz, got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_ts_us_missing_column_raises_named_error(spark):
    """A frame without ts must fail with the named ValueError, not an
    opaque Column.cast(None) TypeError downstream."""
    import pytest as _pytest

    from web_scraping_etl_pipeline_spark.sources.star import (
        ts_us_col,
        ts_us_le,
    )

    df = spark.range(3).withColumnRenamed("id", "not_ts")
    with _pytest.raises(ValueError, match="expected a 'ts' column"):
        ts_us_col(df)
    with _pytest.raises(ValueError, match="expected a 'ts' column"):
        ts_us_le(df, 0)


# ---------------------------------------------------------------------------
# star-table schema reads: one footer read per file per session
# ---------------------------------------------------------------------------

#: 2024-01-15T00:00:00.123456789, as NANOS and as MICROS
_TS_NS = 1_705_276_800_123_456_789
_TS_US = _TS_NS // 1000


def _write_events(path, unit: str, extra: dict | None = None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = _TS_NS if unit == "ns" else _TS_US
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([ts, ts + 1], pa.timestamp(unit)),
        **{k: pa.array(v) for k, v in (extra or {}).items()},
    }
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(cols), str(path / "events.parquet"))


def _stream_events_fn():
    # the plans package imports the streaming modules in dependency
    # order; importing events_stream first would be circular
    from web_scraping_etl_pipeline_spark.plans import QUERIES  # noqa: F401
    from web_scraping_etl_pipeline_spark.streaming.events_stream import (
        _stream_events,
    )

    return _stream_events


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_a_file_runs_no_spark_job(spark, tmp_path):
    """Schema inference is one Spark job per read; the second load of
    the same file must reuse the first one's schema."""
    from web_scraping_etl_pipeline_spark.sources.star import load_table

    _write_events(tmp_path, "us")
    first = _jobs_in_group(
        spark, "memo-first", lambda: load_table(spark, str(tmp_path), "events")
    )
    second = _jobs_in_group(
        spark, "memo-second", lambda: load_table(spark, str(tmp_path), "events")
    )
    assert first >= 1
    assert second == 0


def test_rewritten_file_is_reinferred(spark, tmp_path):
    """A file rewritten in place with other columns is read with its new
    schema, by the batch loader and by the streaming source alike."""
    from web_scraping_etl_pipeline_spark.sources.star import load_table
    _stream_events = _stream_events_fn()

    d = str(tmp_path)
    _write_events(tmp_path, "us")
    assert "note" not in load_table(spark, d, "events").columns
    assert "note" not in _stream_events(spark, d).columns
    _write_events(tmp_path, "us", {"note": ["a", "b"]})
    assert "note" in load_table(spark, d, "events").columns
    assert "note" in _stream_events(spark, d).columns
    rows = load_table(spark, d, "events").select("note").collect()
    assert sorted(r.note for r in rows) == ["a", "b"]


def test_nanos_and_micros_files_in_one_session(spark, tmp_path):
    """Each file keeps its own inferred ``ts`` type, so ``ts_us`` is exact
    for a NANOS file and a MICROS file read side by side."""
    from web_scraping_etl_pipeline_spark.sources.star import load_table

    for unit in ("ns", "us", "ns"):
        _write_events(tmp_path / unit, unit)
        got = sorted(
            r.ts_us
            for r in load_table(spark, str(tmp_path / unit), "events")
            .select("ts_us")
            .collect()
        )
        assert got == [_TS_US, _TS_US + (1 if unit == "us" else 0)], unit


def test_stream_and_batch_share_one_schema_entry(spark, tmp_path):
    """The streaming file source reads its schema from the same memo
    entry the batch loader filled."""
    import os

    from web_scraping_etl_pipeline_spark.sources import star
    _stream_events = _stream_events_fn()

    _write_events(tmp_path, "us")
    star.load_table(spark, str(tmp_path), "events")
    real = os.path.realpath(tmp_path / "events.parquet")
    entry = star._PARQUET_SCHEMAS[real]
    jobs = _jobs_in_group(
        spark, "memo-stream", lambda: _stream_events(spark, str(tmp_path))
    )
    assert jobs == 0
    assert star._PARQUET_SCHEMAS[real] is entry
    assert [k for k in star._PARQUET_SCHEMAS if k.startswith(str(tmp_path))] == [
        real
    ]
