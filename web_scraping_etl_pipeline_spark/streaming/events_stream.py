"""Oracle-checked Structured Streaming queries over ``events``.

Each query runs a real ``readStream`` -> ``writeStream`` cycle with
``trigger(availableNow=True)`` into a scratch parquet sink, then returns
the sink as a DataFrame - so the driver's correctness gate exercises the
actual streaming engine (file source, watermark advancement, state
flush), not a batch re-phrasing.

Determinism notes (what makes a streaming query oracle-able):

- stateless pass-through (q34): append emits every row exactly once -
  the oracle is plain SQL.
- watermark-finalized tumbling windows (q35): append mode emits a
  window only once the event-time watermark (max event time - 0s
  lateness) passes its end; ``availableNow`` runs a final no-data batch
  that advances the watermark and flushes, so the emitted set is exactly
  the windows with ``window_end <= max(event_time)`` - the still-open
  last window is withheld. The oracle states that rule in SQL.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import configure


_SCRATCH_DIRS: list[str] = []


def stream_scratch(prefix: str) -> str:
    """Throwaway checkpoint/sink scratch for an availableNow drain, on
    tmpfs when the host has one (/dev/shm): checkpoint fsyncs and sink
    commits are pure SETUP cost for these bounded drains, and on ext4
    they dominate the per-query wall at small SF - the bench should
    measure the operators. A production deployment checkpoints to
    durable storage instead; nothing in the DATA path changes. Dirs
    are removed at interpreter exit (results are read back before
    then)."""
    root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix=prefix, dir=root)
    _SCRATCH_DIRS.append(d)
    return d


@atexit.register
def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
from ..sources.star import US_PER_DAY, parquet_schema, ts_us_col
from ..plans.common import t
from ..plans.registry import query


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, normalized to carry
    ``ts_us`` (epoch micros, type-adaptive - see sources.star) and
    ``event_time``. The glob filter keeps the directory basePath the
    file source requires while selecting the single ``events.parquet``
    inside it."""
    configure(spark)
    s = (
        spark.readStream.schema(
            parquet_schema(spark, f"{sf_dir}/events.parquet")
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return s.withColumn("ts_us", ts_us_col(s)).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )


#: executed STREAM-side physical plans, keyed by drain tag ("q34", ...).
#: Captured from the terminated query's lastExecution so the streaming
#: plans get the same regression audit the batch side has (state-store
#: operator placement, broadcast of static dims, no row-Python UDFs) -
#: tools/plan_audit.py skips these queries because building them runs a
#: real drain; tests/test_stream_plan_audit.py audits THIS dict instead.
STREAM_PLANS: dict[str, str] = {}


def _run_to_sink(
    df: DataFrame, spark: SparkSession, tag: str, partitions: int = 8
) -> DataFrame:
    """Execute one availableNow drain into a scratch parquet sink and
    return the materialized result.

    State-store partition count: stateful streaming operators create
    one state store per shuffle partition per operator, and each store
    pays checkpoint/commit overhead every micro-batch. These queries
    carry kilobytes of state, so the batch default (32) buys nothing
    and costs seconds per drain - 8 is the default here, and the
    pure-JVM stream-stream joins pass 4 (measured ~0.4 s faster per
    drain; Python-stateful operators stay at 8 because halving their
    partitions halves Python-worker parallelism and measured SLOWER).
    The conf is pinned into the checkpoint at stream creation (scratch
    checkpoints are fresh every run), and restored for the batch plans
    around the stream. A production deployment sizes this to state
    volume / executor count instead."""
    scratch = stream_scratch(f"wsep-stream-{tag}-")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        q = (
            df.writeStream.format("parquet")
            .option("path", f"{scratch}/sink")
            .option("checkpointLocation", f"{scratch}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        try:
            # lastExecution survives availableNow termination; True =
            # extended (logical + physical), what the audit wants.
            STREAM_PLANS[tag] = q._jsq.explainInternal(True)
        except Exception:  # noqa: BLE001 - plan capture is best-effort
            STREAM_PLANS.pop(tag, None)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.parquet(f"{scratch}/sink")


@query(
    "q34_stream_passthrough",
    oracle="""
    SELECT event_id,
           epoch_us(ts) AS ts_us,
           event_type,
           ROUND(value, 6) AS value
    FROM events WHERE value > 90
    """,
)
def q34_stream_passthrough(spark, sf_dir):
    """Stateless streaming filter+project: the reference's incremental
    clean stage shape (filter then select,
    /root/reference/src/topcv_pipeline.py:122-141) running through the
    actual streaming engine. Append emits each row exactly once, so the
    result equals the batch query."""
    s = _stream_events(spark, sf_dir).filter(F.col("value") > 90)
    out = s.select(
        "event_id",
        "ts_us",
        "event_type",
        F.round("value", 6).alias("value"),
    )
    return _run_to_sink(out, spark, "q34")


@query(
    "q35_stream_daily_finalized",
    oracle=f"""
    SELECT (epoch_us(ts) // {US_PER_DAY}) * {US_PER_DAY} AS day_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    HAVING (epoch_us(ts) // {US_PER_DAY}) * {US_PER_DAY} + {US_PER_DAY}
           <= (SELECT max(epoch_us(ts)) FROM events)
    """,
)
def q35_stream_daily_finalized(spark, sf_dir):
    """Tumbling daily counts per event type with a zero-lateness
    watermark - the reference's daily batch + watermark drop
    (SURVEY.md section 2.7) as a genuine stateful streaming aggregate.
    Append mode emits exactly the finalized windows (end <= watermark);
    the oracle encodes that emission rule in SQL."""
    s = (
        _stream_events(spark, sf_dir)
        .withWatermark("event_time", "0 seconds")
        .groupBy(F.window("event_time", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros("w.start").alias("day_us"), "event_type", "n"
        )
    )
    return _run_to_sink(s, spark, "q35")


@query(
    "q37_stateful_user_profiles",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           MAX(epoch_us(ts)) AS last_ts_us
    FROM events GROUP BY user_id
    """,
)
def q37_stateful_user_profiles(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState) driven through
    the real streaming engine: running per-user profiles in managed
    state. With one availableNow drain every user emits exactly one
    final snapshot, so the result equals the batch aggregate - which is
    what the oracle states. Cross-batch state carry is the pytest's job
    (tests/test_stateful_streaming.py)."""
    from .stateful import user_profiles

    s = _stream_events(spark, sf_dir).select("user_id", "ts_us", "value")
    sunk = _run_to_sink(user_profiles(s), spark, "q37")
    return sunk.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        "last_ts_us",
    )


@query(
    "q71_stream_sliding_finalized",
    oracle=f"""
    WITH w AS (
      SELECT event_type,
             unnest([
               (epoch_us(ts) // {US_PER_DAY}) * {US_PER_DAY},
               (epoch_us(ts) // {US_PER_DAY}) * {US_PER_DAY} - {US_PER_DAY}
             ]) AS win_start_us
      FROM events
    )
    SELECT win_start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM w
    GROUP BY 1, 2
    HAVING win_start_us + 2 * {US_PER_DAY}
           <= (SELECT max(epoch_us(ts)) FROM events)
    """,
)
def q71_stream_sliding_finalized(spark, sf_dir):
    """Sliding (overlapping) event-time windows - 2-day duration, 1-day
    slide - through the real streaming engine with a zero-lateness
    watermark. Each event lands in exactly two windows; append mode
    emits a window once the watermark passes its end, so the emitted
    set is the windows with ``end <= max(event_time)`` (the oracle's
    HAVING). Spark aligns slide multiples to the epoch, which the
    oracle's integer day-floor arithmetic reproduces exactly."""
    s = (
        _stream_events(spark, sf_dir)
        .withWatermark("event_time", "0 seconds")
        .groupBy(
            F.window("event_time", "2 days", "1 day").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros("w.start").alias("win_start_us"), "event_type", "n"
        )
    )
    return _run_to_sink(s, spark, "q71")


@query(
    "q115_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           epoch_us(p.ts) AS purchase_us,
           epoch_us(c.ts) AS click_us
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
                            AND epoch_us(p.ts)
    """,
)
def q115_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join through the real engine: purchases
    joined to the same user's clicks from the preceding hour, both
    sides genuine ``readStream`` sources with watermarks and an
    event-time range condition.

    The time bound is what makes this tractable: it lets the engine
    evict join state older than (watermark - 1 hour) instead of
    buffering both streams forever - THE canonical pattern for
    correlating two unbounded streams. Inner-join matches are emitted
    as found, so one availableNow drain equals the batch interval join
    (the oracle); state eviction only ever drops rows that can no
    longer match."""
    p = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("p_time"),
            F.col("ts_us").alias("purchase_us"),
        )
    )
    c = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("c_time"),
            F.col("ts_us").alias("click_us"),
        )
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_time") >= F.col("p_time") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_time") <= F.col("p_time")),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "purchase_us",
        "click_us",
    )
    return _run_to_sink(joined, spark, "q115", partitions=4)


@query(
    "q145_stream_dedup",
    oracle=f"""
    SELECT DISTINCT user_id,
           event_type,
           (epoch_us(ts) // {US_PER_DAY}) AS day_idx
    FROM events
    """,
)
def q145_stream_dedup(spark, sf_dir):
    """Streaming deduplication: the first (user, event type, day)
    sighting passes, every later duplicate is dropped inside the
    stream - the exactly-once activity feed a downstream daily-actives
    consumer wants, without a batch dedup pass.

    ``dropDuplicatesWithinWatermark`` keys the state store by the dedup
    columns; the 1-day watermark bounds state to roughly one day's key
    set (state for days older than the watermark is evicted), which is
    what makes streaming dedup viable at 100 TB/day - unbounded
    ``dropDuplicates`` state would grow forever. Only the key columns
    are emitted, so the result is the distinct key set regardless of
    which physical row arrived first, and the oracle is plain
    DISTINCT."""
    s = (
        _stream_events(spark, sf_dir)
        .withWatermark("event_time", "1 day")
        .select(
            "user_id",
            "event_type",
            F.expr(f"ts_us DIV {US_PER_DAY}").alias("day_idx"),
            "event_time",
        )
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day_idx"])
        .select("user_id", "event_type", "day_idx")
    )
    return _run_to_sink(s, spark, "q145")


@query(
    "q176_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment,
           ROUND(e.value, 6) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.value > 50
    """,
)
def q176_stream_static_join(spark, sf_dir):
    """Stream-STATIC enrichment join: the streaming fact joins a batch
    dimension (customer keyed by user_id) inside the micro-batch - the
    canonical "enrich events with a slowly-changing dim" deployment.
    Stateless per-row enrichment keeps append mode emitting each match
    exactly once, so the drained sink equals the batch join and the
    oracle stays exact.

    Scale: the static side is planned per micro-batch, so Spark
    broadcast-hash-joins it when small (here) and re-resolves it every
    trigger - a dim refresh lands without restarting the stream. No
    state store is involved (unlike q115's stream-stream join): the
    static side is re-read, not buffered, which is what makes this
    join shape safe at any stream length."""
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    s = _stream_events(spark, sf_dir).filter(F.col("value") > 50)
    out = s.join(F.broadcast(dim), "user_id").select(
        "event_id",
        "user_id",
        "c_mktsegment",
        F.round("value", 6).alias("value"),
    )
    return _run_to_sink(out, spark, "q176")


@query(
    "q212_stream_session_finalized",
    oracle="""
    WITH x AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
             ) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts_us,
             SUM(CASE WHEN prev_us IS NULL
                        OR ts_us - prev_us > 1800000000
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts_us
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM x
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + 1800000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flagged GROUP BY user_id, session_id
    -- the watermark is held at ms precision (floor of the max event
    -- time); a session emits once its exact-us end is <= that floored
    -- watermark (pinned by tests/test_watermark_boundary.py).
    HAVING MAX(ts_us) + 1800000000
           <= (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events)
    """,
)
def q212_stream_session_finalized(spark, sf_dir):
    """STREAMING sessionization: ``session_window`` (30-min gap) under a
    zero-lateness watermark - q70's batch operator run through the real
    streaming engine with session-merging state. Append mode emits a
    session only once the watermark passes its end (last event + gap),
    so the drained sink holds exactly the batch sessions whose end
    precedes the corpus max event time - the one still-open session per
    active user is withheld, which is what the oracle's HAVING states.

    Scale: session state is per-user and evicted at emission - the
    watermark bounds state size by active-user count x gap, which is
    what makes gap-sessionization runnable on an unbounded stream
    (unlike the batch q70, which needs the whole key's history in one
    sort). State-store shuffle follows _run_to_sink's 8-partition
    sizing note."""
    s = (
        _stream_events(spark, sf_dir)
        .withWatermark("event_time", "0 seconds")
        .groupBy(
            "user_id",
            F.session_window(F.col("event_time"), "30 minutes").alias("w"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )
    return _run_to_sink(s, spark, "q212")


@query(
    "q223_stream_stream_left_outer",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
      FROM events WHERE event_type = 'click'
    ),
    -- the engine's global watermark: each watermarked source tracks
    -- its OWN max event time, the query watermark is their MIN
    -- (multipleWatermarkPolicy=min default), held at millisecond
    -- precision (floor).
    wm AS (
      SELECT (LEAST((SELECT MAX(purchase_us) FROM p),
                    (SELECT MAX(click_us) FROM c)) // 1000) * 1000 AS w
    )
    -- eviction boundary (pinned by tests/test_watermark_boundary.py):
    -- state rows are keyed at millisecond resolution rounded UP, and
    -- evict when strictly below the watermark ms - i.e.
    -- ceil_ms(purchase_us) < wm_ms, equivalently
    -- purchase_us <= w - 1000. A purchase in the open millisecond
    -- just under the watermark stays buffered.
    SELECT p.purchase_id, p.user_id, p.purchase_us, c.click_id, c.click_us
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.click_us BETWEEN p.purchase_us - 3600000000 AND p.purchase_us
    , wm
    WHERE c.click_id IS NOT NULL OR p.purchase_us <= wm.w - 1000
    """,
)
def q223_stream_stream_left_outer(spark, sf_dir):
    """LEFT OUTER stream-stream join: q115's purchase<-click interval
    correlation, but purchases with NO qualifying click are also
    emitted (null-padded) - the abandoned-attribution shape a funnel
    pipeline needs, and the semantically hardest streaming join mode:
    the engine may emit a null row only once the watermark PROVES no
    matching click can still arrive.

    Emission rule (pinned EMPIRICALLY via StreamingQueryProgress and
    stated by the oracle): matches emit as found; an unmatched
    purchase emits null-padded only when EVICTED from join state,
    which happens when purchase_time < the query's GLOBAL watermark.
    With two watermarked sources the global watermark is the MIN of
    the per-source max event times (multipleWatermarkPolicy=min - the
    slower side gates eviction so the faster side can still find
    matches), truncated to millisecond precision. The availableNow
    drain's final no-data batch advances it there and flushes; an
    unmatched purchase AT the watermark stays buffered for the next
    run. The oracle computes exactly that boundary in SQL.

    Scale: identical state bounds to q115 - the interval condition
    lets the engine evict both sides' state at (watermark - 1 hour);
    outer emission adds no state, only the eviction-time null flush."""
    p = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("p_time"),
            F.col("ts_us").alias("purchase_us"),
        )
    )
    c = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("c_time"),
            F.col("ts_us").alias("click_us"),
        )
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_time") >= F.col("p_time") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_time") <= F.col("p_time")),
        "left_outer",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_us",
        "click_id",
        "click_us",
    )
    return _run_to_sink(joined, spark, "q223", partitions=4)


@query(
    "q232_stream_stream_full_outer",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
      FROM events WHERE event_type = 'click'
    ),
    wm AS (
      SELECT (LEAST((SELECT MAX(purchase_us) FROM p),
                    (SELECT MAX(click_us) FROM c)) // 1000) * 1000 AS w
    )
    SELECT p.purchase_id, p.purchase_us, c.click_id, c.click_us,
           COALESCE(p.user_id, c.user_id) AS user_id
    FROM p FULL OUTER JOIN c
      ON p.user_id = c.user_id
     AND c.click_us BETWEEN p.purchase_us - 3600000000 AND p.purchase_us
    , wm
    -- ceil-ms eviction boundary on both sides (see q223's note and
    -- tests/test_watermark_boundary.py): <= w - 1000, not < w.
    WHERE (p.purchase_id IS NOT NULL AND c.click_id IS NOT NULL)
       OR (c.click_id IS NULL AND p.purchase_us <= wm.w - 1000)
       OR (p.purchase_id IS NULL
           AND c.click_us <= wm.w - 3600000000 - 1000)
    """,
)
def q232_stream_stream_full_outer(spark, sf_dir):
    """FULL OUTER stream-stream interval join - the last cell of the
    streaming join-mode matrix (inner q115, left q223): purchases with
    no qualifying click AND clicks that led to no purchase both emit
    null-padded once state eviction proves no match can arrive.

    The eviction boundaries are ASYMMETRIC, derived from the interval
    `click in [purchase - 1h, purchase]` (both pinned empirically and
    stated by the oracle): an unmatched PURCHASE flushes at
    purchase_time < watermark (any future click would be >= watermark
    > purchase_time, outside the interval's upper bound); an unmatched
    CLICK must wait the interval width - a click can still match
    purchases up to 1 h after it, so it flushes only at click_time <
    watermark - 1 h. The watermark is the min of the two sources'
    max event times at millisecond precision (q223's rule).

    Scale: state bounds identical to the inner join; each side's
    buffer is evicted at its own boundary, so total state is
    (1 h + lateness) of both streams."""
    p = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("p_time"),
            F.col("ts_us").alias("purchase_us"),
        )
    )
    c = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("c_time"),
            F.col("ts_us").alias("click_us"),
        )
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_time") >= F.col("p_time") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_time") <= F.col("p_time")),
        "full_outer",
    ).select(
        "purchase_id",
        "purchase_us",
        "click_id",
        "click_us",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
    )
    return _run_to_sink(joined, spark, "q232", partitions=4)


@query(
    "q237_stream_update_upsert",
    oracle=f"""
    SELECT (epoch_us(ts) // {US_PER_DAY}) * {US_PER_DAY} AS day_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q237_stream_update_upsert(spark, sf_dir):
    """UPDATE-mode streaming aggregate with a keyed UPSERT sink: daily
    per-type counts/sums where every micro-batch re-emits the groups it
    CHANGED (update mode - no watermark finalization wait) and a
    ``foreachBatch`` MERGE keyed on (day, type) overwrites those rows
    in the sink - the live-dashboard shape, and the third emission mode
    of the streaming matrix (append: q35, final-state single drain:
    q37). The keyed overwrite makes the sink idempotent under
    foreachBatch's at-least-once replay, so the FINAL sink state equals
    the batch aggregate exactly - which is what the oracle states.

    Scale: the aggregate state is bounded by |days| x |types|; each
    batch's emitted delta is only the touched groups, and the MERGE
    (parquet emulation here, Delta/Iceberg MERGE in a lakehouse -
    see streaming/jobs_stream.py) rewrites matching keys only."""
    import tempfile

    s = (
        _stream_events(spark, sf_dir)
        .withWatermark("event_time", "0 seconds")
        .groupBy(
            F.expr(f"ts_us DIV {US_PER_DAY}").alias("day_idx"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            (F.col("day_idx") * US_PER_DAY).alias("day_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    scratch = stream_scratch("wsep-stream-q237-")
    sink_dir = f"{scratch}/sink"

    def merge_batch(batch_df, batch_id):
        sess = batch_df.sparkSession
        batch = batch_df.dropDuplicates(["day_us", "event_type"]).cache()
        try:
            # First-batch detection: probe the sink path itself rather
            # than string-matching an exception message that can change
            # across Spark versions (the sink is a local scratch dir
            # here; a cluster deployment swaps in the Hadoop FS API's
            # FileSystem.exists on the same path).
            if os.path.isdir(sink_dir):
                current = sess.read.parquet(sink_dir)
                kept = current.join(
                    F.broadcast(batch.select("day_us", "event_type")),
                    ["day_us", "event_type"],
                    "left_anti",
                )
                merged = kept.unionByName(batch)
            else:
                merged = batch
            staged = merged.localCheckpoint(eager=True)
            staged.write.mode("overwrite").parquet(sink_dir)
        finally:
            batch.unpersist()

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            s.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = spark.read.parquet(sink_dir)
    return out.select(
        "day_us",
        "event_type",
        "n",
        F.round("sum_value", 2).alias("total_value"),
    )


def _tws_available() -> bool:
    """transformWithStateInPandas drives its Python<->JVM state server
    over protobuf; this container ships no ``google.protobuf``, so the
    query registers only where the protocol can actually run (the
    brief's gate-behind-import-try rule). The operator implementation
    itself (streaming/stateful.py:ProfileProcessor) is complete and
    API-identical either way."""
    try:  # noqa: SIM105
        from google.protobuf import descriptor  # noqa: F401,PLC0415

        return True
    except Exception:
        return False


def _register_q249():
    if not _tws_available():  # pragma: no cover - environment gate
        return None
    return query(
        "q249_transform_with_state",
        oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           MAX(epoch_us(ts)) AS last_ts_us
    FROM events GROUP BY user_id
    """,
    )


_q249_decorator = _register_q249()


def q249_transform_with_state(spark, sf_dir):
    """Arbitrary streaming state via ``transformWithStateInPandas`` -
    Spark 4's NEW stateful API (named state variables on an explicit
    handle, ListState/MapState/timers available) running the exact
    operator q37 implements on the older ``applyInPandasWithState``,
    so the two APIs are pinned side by side: one availableNow drain,
    each user's final snapshot equals the batch aggregate (the
    oracle). RocksDB-backed state and state-v2 checkpoint format are
    deployment flips; the processor code is unchanged."""
    from .stateful import user_profiles_tws

    s = _stream_events(spark, sf_dir).select("user_id", "ts_us", "value")
    sunk = _run_to_sink(user_profiles_tws(s), spark, "q249")
    return sunk.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        "last_ts_us",
    )


if _q249_decorator is not None:  # register only where runnable
    q249_transform_with_state = _q249_decorator(q249_transform_with_state)


@query(
    "q262_stream_join_then_window",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS purchase_us
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id, user_id, epoch_us(ts) AS click_us
      FROM events WHERE event_type = 'click'
    ),
    wm AS (
      SELECT (LEAST((SELECT MAX(purchase_us) FROM p),
                    (SELECT MAX(click_us) FROM c)) // 1000) * 1000 AS w
    ),
    pairs AS (
      SELECT p.purchase_us
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.click_us BETWEEN p.purchase_us - 3600000000 AND p.purchase_us
    )
    -- chained-stateful watermark (pinned by
    -- tests/test_watermark_boundary.py): the interval join delays its
    -- OUTPUT watermark by the interval span (min over both sides'
    -- state watermarks = wm - 1h), and the downstream window
    -- finalizes at the same ceil-ms boundary as join eviction - so a
    -- day emits iff day_end + 1h + 1ms <= the global watermark.
    SELECT (purchase_us // {US_PER_DAY}) * {US_PER_DAY} AS day_us,
           CAST(COUNT(*) AS BIGINT) AS n_attributed
    FROM pairs, wm
    GROUP BY 1, wm.w
    HAVING (purchase_us // {US_PER_DAY}) * {US_PER_DAY} + {US_PER_DAY}
           + 3600000000 + 1000 <= wm.w
    """,
)
def q262_stream_join_then_window(spark, sf_dir):
    """CHAINED STATEFUL operators in ONE streaming query (supported
    since Spark 3.5's multi-stateful-operator work): the q115
    purchase<-click interval join feeding a tumbling DAILY aggregate
    of attributed purchases, both stateful stages sharing the
    pipeline's event-time watermark. Emission rule (empirically
    pinned, same machinery as q223/q232): join matches flow into
    window state as found; the join's OUTPUT watermark lags the
    global one by the interval span (1 h), and append mode finalizes
    a day once that delayed watermark strictly passes its end at ms
    resolution - day_end + 1h + 1ms <= watermark, which the oracle's
    HAVING states (see tests/test_watermark_boundary.py).

    Scale: join state evicts on the 1-hour interval bound, window
    state holds one partial count per (day) - the chained plan never
    buffers unwindowed join output."""
    p = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("p_time"),
        )
    )
    c = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("c_time"),
        )
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_time") >= F.col("p_time") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_time") <= F.col("p_time")),
    )
    agg = (
        joined.groupBy(F.window("p_time", "1 day").alias("w"))
        .agg(F.count("*").alias("n_attributed"))
        .select(
            F.unix_micros("w.start").alias("day_us"),
            F.col("n_attributed").cast("long").alias("n_attributed"),
        )
    )
    return _run_to_sink(agg, spark, "q262", partitions=4)


@query(
    "q265_stateful_timeout_sessions",
    oracle="""
    WITH x AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts_us,
             SUM(CASE WHEN prev_us IS NULL
                        OR ts_us - prev_us > 1800000000
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts_us
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM x
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + 1800000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flagged GROUP BY user_id, session_id
    -- the event-time TIMER is armed at floor-ms(session end) and
    -- fires only when the watermark ms is STRICTLY greater (Spark's
    -- GroupState event-time timeout), so unlike q212's native
    -- session_window (inclusive <=) the boundary here is floor-ms <
    -- floor-ms (pinned by tests/test_watermark_boundary.py).
    HAVING (MAX(ts_us) + 1800000000) // 1000
           < (SELECT max(epoch_us(ts)) // 1000 FROM events)
    """,
)
def q265_stateful_timeout_sessions(spark, sf_dir):
    """TIMER-driven custom sessionization: q212's session semantics
    reproduced by ``applyInPandasWithState`` with an EVENT-TIME
    TIMEOUT - each user's open session arms a timer at last_event +
    gap; the final no-data batch advances the watermark and the timer
    flush emits exactly the sessions whose end precedes the corpus
    max (the same rule the native session_window follows, so the two
    mechanisms share one oracle). This is the machinery for stateful
    patterns session_window can't express: abandoned-cart timers, SLA
    breach detection, heartbeat-loss alerts.

    Scale: state is one (start, last, n) triple per active user,
    removed at timeout - bounded by concurrent users x gap."""
    from .stateful import timeout_sessions

    s = _stream_events(spark, sf_dir).select(
        "user_id", "ts_us", "event_id", "event_time"
    ).withWatermark("event_time", "0 seconds")
    return _run_to_sink(timeout_sessions(s), spark, "q265")
