"""Equivalence gates for the distributed total-order helpers
(plans/common.py): on test-sized data the range-partitioned two-pass
forms must agree row-for-row with Spark's own single-partition window
evaluation, including under duplicate keys, descending orders, skewed
partition counts, and multi-batch Arrow streams.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from tests.conftest import SF_DIR
from web_scraping_etl_pipeline_spark.plans.common import (
    global_cumsum,
    global_lead,
    global_ntile,
    t,
)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_global_cumsum_matches_window(spark):
    ev = t(spark, SF_DIR, "events").select("event_id", "value")
    got, total, totals = global_cumsum(
        ev, ["event_id"], sums=[("value", "cum")], rn_col="rn", npartitions=7
    )
    w = Window.orderBy("event_id")
    want = ev.select(
        "event_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum("value")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    assert _rows(got, "event_id", "rn", F.round("cum", 6)) == _rows(
        want, "event_id", "rn", F.round("cum", 6)
    )
    assert total == ev.count()
    exact = ev.agg(F.sum("value")).first()[0]
    assert abs(totals["cum"] - exact) < 1e-6


def test_global_cumsum_duplicate_keys_colocate(spark):
    """ROWS-frame prefix under duplicate order keys: the per-day
    running event count must agree with the window form (equal keys
    land in one range partition, so offsets never split a tie
    group)."""
    ev = t(spark, SF_DIR, "events").select(
        F.expr("ts_us DIV 86400000000").alias("day"), F.lit(1).alias("one")
    )
    got, _, _ = global_cumsum(ev, ["day"], sums=[("one", "cum")], npartitions=5)
    # duplicates make per-row prefixes order-dependent; compare the
    # order-free projection: per-day MAX of the running count == the
    # running total at each day boundary.
    got_day = got.groupBy("day").agg(F.max("cum").alias("cum_at_day"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want_day = (
        ev.groupBy("day")
        .agg(F.count("*").alias("n"))
        .select("day", F.sum("n").over(w).alias("cum_at_day"))
    )
    assert _rows(got_day, "day", "cum_at_day") == _rows(
        want_day, "day", "cum_at_day"
    )


def test_global_ntile_matches_window(spark):
    o = t(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    for n in (3, 5, 7):
        got = global_ntile(
            o, [F.desc("o_totalprice"), F.asc("o_orderkey")], n, "b",
            npartitions=6,
        )
        want = o.select(
            "o_orderkey",
            F.ntile(n)
            .over(Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")))
            .cast("long")
            .alias("b"),
        )
        assert _rows(got, "o_orderkey", "b") == _rows(want, "o_orderkey", "b")


def test_global_ntile_more_buckets_than_rows(spark):
    tiny = t(spark, SF_DIR, "region").select("r_regionkey")
    got = global_ntile(tiny, ["r_regionkey"], 100, "b", npartitions=3)
    want = tiny.select(
        "r_regionkey",
        F.ntile(100)
        .over(Window.orderBy("r_regionkey"))
        .cast("long")
        .alias("b"),
    )
    assert _rows(got, "r_regionkey", "b") == _rows(want, "r_regionkey", "b")


def test_global_lead_matches_window(spark):
    p = t(spark, SF_DIR, "part").select("p_partkey", "p_name")
    got = global_lead(
        p, ["p_name", "p_partkey"], ["p_partkey", "p_name"], k=2,
        npartitions=9,
    )
    w = Window.orderBy("p_name", "p_partkey")
    want = p.select(
        "p_partkey",
        F.lead("p_partkey", 1).over(w).alias("_lead1_p_partkey"),
        F.lead("p_name", 1).over(w).alias("_lead1_p_name"),
        F.lead("p_partkey", 2).over(w).alias("_lead2_p_partkey"),
        F.lead("p_name", 2).over(w).alias("_lead2_p_name"),
    )
    cols = [
        "p_partkey",
        "_lead1_p_partkey",
        "_lead1_p_name",
        "_lead2_p_partkey",
        "_lead2_p_name",
    ]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_global_lead_k_exceeds_partition_size(spark):
    """Partitions smaller than the lookahead distance: every lead must
    still resolve across one or more partition boundaries."""
    tiny = t(spark, SF_DIR, "nation").select("n_nationkey")
    got = global_lead(tiny, ["n_nationkey"], ["n_nationkey"], k=3,
                      npartitions=16)
    w = Window.orderBy("n_nationkey")
    want = tiny.select(
        "n_nationkey",
        F.lead("n_nationkey", 1).over(w).alias("_lead1_n_nationkey"),
        F.lead("n_nationkey", 2).over(w).alias("_lead2_n_nationkey"),
        F.lead("n_nationkey", 3).over(w).alias("_lead3_n_nationkey"),
    )
    cols = [
        "n_nationkey",
        "_lead1_n_nationkey",
        "_lead2_n_nationkey",
        "_lead3_n_nationkey",
    ]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_results_stable_after_transient_release(spark):
    """release_transients() between queries must be safe even if a
    consumer re-executes afterwards: the range boundaries and ordinal
    assignment are deterministic, so a recompute from lineage yields
    byte-identical results."""
    from web_scraping_etl_pipeline_spark.plans.common import (
        release_transients,
    )

    o = t(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    d = global_ntile(o, ["o_totalprice", "o_orderkey"], 5, "b",
                     npartitions=6)
    first = _rows(d, "o_orderkey", "b")
    released = release_transients()
    assert released >= 1
    assert _rows(d, "o_orderkey", "b") == first  # recomputed from lineage


def test_q197_node_cache_is_released(spark):
    """q197's persisted node frame is registered as a transient, so
    release_transients() leaves no cache entry for it behind."""
    from pyspark import StorageLevel

    from web_scraping_etl_pipeline_spark.plans import QUERIES
    from web_scraping_etl_pipeline_spark.plans.common import (
        release_transients,
    )

    def nodes():  # the same plan q197 persists
        return t(spark, SF_DIR, "part").select(
            F.col("p_partkey").alias("node"),
            F.col("p_retailprice").alias("own"),
        )

    release_transients()
    QUERIES["q197_subtree_rollup"](spark, SF_DIR).collect()
    assert nodes().storageLevel != StorageLevel.NONE
    assert release_transients() >= 1
    assert nodes().storageLevel == StorageLevel.NONE
