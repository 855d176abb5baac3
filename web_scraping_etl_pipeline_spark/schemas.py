"""Explicit schemas for the tables the engine writes and ingests.

The reference declares its schema once in DDL
(/root/reference/src/create_table.py:51-76) and then re-carries it as
hand-maintained dict keys (which drifts - SURVEY.md section 8 B1). Here one
StructType per jobs-domain and multimodal table is the single source of
truth, shared by readers, writers, and tests. No ``inferSchema`` on the
pipeline path.

The driver star tables are only named here (``STAR_TABLES``). Their
schema is read from each file's parquet footer, once per file per
session (``sources.star.parquet_schema``): the physical encoding of
``events.ts`` differs between files (NANOS or MICROS), and the loader
derives ``ts_us`` from whichever type the footer declares.

Naming: the reference's ``update``/``update_date``/``posted_date`` drift
is collapsed to one canonical ``posted_date`` (SURVEY.md section 8 B1).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# jobs domain (reference parity)
# ---------------------------------------------------------------------------

#: raw scraped batch = bronze input. Mirrors staging_table
#: (/root/reference/src/create_table.py:51-63) with the raw relative-time
#: texts kept so clean/transform can be replayed from bronze.
JOBS_RAW = T.StructType(
    [
        T.StructField("job_name", T.StringType()),
        T.StructField("job_link", T.StringType(), nullable=False),
        T.StructField("salary", T.StringType()),
        T.StructField("company_name", T.StringType()),
        T.StructField("update_text", T.StringType()),
        T.StructField("job_location", T.StringType()),
        T.StructField("remaining_time_text", T.StringType()),
        T.StructField("posted_date", T.TimestampType()),
        T.StructField("due_date", T.TimestampType()),
    ]
)

#: cleaned/transformed table = silver. Mirrors jobs_table
#: (/root/reference/src/create_table.py:65-76) after C1-C8: salary is a
#: genuine nullable double (millions VND, mean of range; NULL for
#: "Thỏa thuận") instead of the reference's TEXT -> numeric ALTER dance.
JOBS = T.StructType(
    [
        T.StructField("job_name", T.StringType()),
        T.StructField("job_link", T.StringType(), nullable=False),
        T.StructField("salary", T.DoubleType()),
        T.StructField("company_name", T.StringType()),
        T.StructField("posted_date", T.TimestampType()),
        T.StructField("job_location", T.StringType()),
        T.StructField("remaining_time", T.StringType()),
        T.StructField("due_date", T.TimestampType()),
    ]
)

#: incremental high-watermark state (tmp/last_processed_time.json in the
#: reference, /root/reference/src/topcv_pipeline.py:20-33).
WATERMARK_STATE = T.StructType(
    [T.StructField("last_processed", T.TimestampType())]
)

# ---------------------------------------------------------------------------
# driver star schema (/root/testdata/sf*/; see TESTDATA.md, FIXTURES.md)
# ---------------------------------------------------------------------------

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# ---------------------------------------------------------------------------
# multimodal (binary payload + typed metadata; see multimodal package)
# ---------------------------------------------------------------------------

MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), nullable=False),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)
