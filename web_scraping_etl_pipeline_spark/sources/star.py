"""Loaders for the driver star schema (/root/testdata/sf*/ - TESTDATA.md).

Plays the role of the reference's table scans
(/root/reference/src/topcv_pipeline.py:119-129 ``SELECT * FROM
staging_table``): one loader per table, returning a DataFrame whose plan
still supports predicate pushdown and column pruning (we add derived
columns lazily; Catalyst prunes them when unused).

events time handling
--------------------
``events.parquet`` has shipped with two physical encodings of ``ts``:
``TIMESTAMP(NANOS)`` (arrives as bigint nanoseconds under
``spark.sql.legacy.parquet.nanosAsLong``) and ``TIMESTAMP(MICROS)``
(arrives as a real timestamp). DuckDB (the correctness oracle) reads
either as a microsecond timestamp. The canonical event-time column this
engine exposes is therefore ``ts_us`` - epoch **microseconds** (bigint),
derived type-adaptively by :func:`ts_us_col`: identical in both
systems, timezone-free, cheap to compare/bucket at 100 TB (a long
column beats a timestamp for shuffle/sort keys). Helpers convert to
real timestamps only at presentation/streaming boundaries.

schema reads
------------
Inferring a parquet schema opens the file footer and runs one Spark
job (about 0.1 s). :func:`parquet_schema` does that once per file per
session and every reader passes the result through ``.schema()``:
:func:`load_table` and the streaming file sources. The memo is keyed by
the session's application id and the file's real path, mtime and size,
so a rewritten file or a new session is inferred afresh; it holds one
entry per distinct file read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..session import configure

#: deterministic "now" for every query that the reference writes with
#: NOW() (script.sql:54) - mid-range of the events table's January 2024
#: span so horizon/expiry predicates select non-trivial subsets at every
#: scale factor. 2024-01-15T00:00:00 UTC in epoch microseconds.
ANCHOR_US = 1_705_276_800_000_000

#: events epoch for bucketing (2024-01-01T00:00:00 UTC, micros).
EVENTS_EPOCH_US = 1_704_067_200_000_000

US_PER_DAY = 86_400_000_000


def _ts_dtype(df: DataFrame) -> str | None:
    for name, dtype in df.dtypes:
        if name == "ts":
            return dtype
    return None


def _require_ts_dtype(df: DataFrame) -> str:
    """Like :func:`_ts_dtype` but raises a named error instead of letting
    a ``None`` dtype surface later as an opaque ``Column.cast(None)``
    TypeError far from the caller's mistake."""
    dt = _ts_dtype(df)
    if dt is None:
        raise ValueError(
            f"expected a 'ts' column on events, got columns {df.columns}"
        )
    return dt


def ts_us_col(df: DataFrame):
    """Epoch-micros expression for ``events.ts``, exact for either
    physical encoding.

    - bigint nanoseconds (NANOS parquet under nanosAsLong): integer
      division (DIV), not float - int64 nanos (~1.7e18) exceed double's
      2^53 exact range, so ``/ 1000`` rounds ~12% of rows off by 1 us.
      DuckDB's epoch_us truncates in integer space; DIV matches exactly
      (ts >= 0 here, so DIV == floor division).
    - micros timestamp: NTZ wall time is measured against an NTZ epoch
      literal with ``timestampdiff(MICROSECOND, ...)`` - entirely in
      naive-clock space, so the result is identical under any session
      timezone. A bare ``cast("timestamp")`` (and, measured, even
      ``to_utc_timestamp(ts, 'UTC')``, whose NTZ input is first
      implicitly cast through the session clock) would interpret the
      naive value in the session tz and silently shift every event on a
      deployment where :func:`..session.configure` could not pin the
      session tz to UTC (its conf set is best-effort). LTZ values are
      already instants; ``unix_micros`` is lossless on them.
    """
    dt = _require_ts_dtype(df)
    if dt in ("bigint", "long"):
        return F.expr("ts DIV 1000")
    if dt == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    return F.unix_micros(F.col("ts").cast("timestamp"))


#: realpath -> ((applicationId, st_mtime_ns, st_size), inferred schema).
#: One entry per file: a stamp mismatch replaces the entry.
_PARQUET_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read from the
    footer once per (session, file version). The inferred dtype of
    ``events.ts`` (bigint NANOS or timestamp MICROS) is what
    :func:`ts_us_col` dispatches on, so it is memoized, not declared."""
    real = os.path.realpath(path)
    st = os.stat(real)
    stamp = (spark.sparkContext.applicationId, st.st_mtime_ns, st.st_size)
    hit = _PARQUET_SCHEMAS.get(real)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _PARQUET_SCHEMAS[real] = (stamp, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table; events gains ``ts_us`` (epoch micros)."""
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = df.withColumn("ts_us", ts_us_col(df))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    from ..schemas import STAR_TABLES

    return {name: load_table(spark, sf_dir, name) for name in STAR_TABLES}


def ts_us_le(df: DataFrame, bound_us: int):
    """``ts_us <= bound`` phrased so the bound reaches the parquet scan.

    ``ts_us`` is a derived column, so a predicate on it alone never
    pushes down; instead the equivalent bound on the raw ``ts`` column
    is used (pushed into the reader, so row groups outside the horizon
    are skipped by footer stats - the difference between scanning
    100 TB and scanning the matching slice). For bigint nanos the raw
    twin is ``ts <= bound*1000 + 999`` (exact for ts >= 0, paired with
    the ``ts_us`` bound); for a micros timestamp, comparing ``ts``
    against the bound as a constant-folded timestamp literal is already
    exact AND pushable, no twin needed."""
    dt = _require_ts_dtype(df)
    if dt in ("bigint", "long"):
        return (F.col("ts") <= F.lit(bound_us * 1000 + 999)) & (
            F.col("ts_us") <= F.lit(bound_us)
        )
    return F.col("ts") <= F.timestamp_micros(F.lit(bound_us)).cast(dt)


def ts_us_gt(df: DataFrame, bound_us: int):
    """``ts_us > bound`` with the pushable raw-``ts`` phrasing; see
    :func:`ts_us_le`."""
    dt = _require_ts_dtype(df)
    if dt in ("bigint", "long"):
        return (F.col("ts") > F.lit(bound_us * 1000 + 999)) & (
            F.col("ts_us") > F.lit(bound_us)
        )
    return F.col("ts") > F.timestamp_micros(F.lit(bound_us)).cast(dt)


def with_event_time(df: DataFrame) -> DataFrame:
    """Add ``event_time`` (TIMESTAMP, UTC instant) from ``ts_us``.

    For streaming/windowing APIs that need a real timestamp column;
    session tz is pinned to UTC by :func:`..session.configure`, so the
    wall clock equals the naive value DuckDB sees.
    """
    return df.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
