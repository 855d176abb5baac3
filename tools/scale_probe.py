"""Scaling-curve probe: replicate the sf0.1 tables in-memory (k copies
with shifted ids - no files written, driver test data untouched) and
time the engine's scale-critical pipeline shapes at 1x / 4x / 16x.

The point is the CURVE, not the absolute numbers: a plan that is
linear-ish across a 16x spread on local[32] has no hidden quadratic or
single-task stage waiting at cluster scale; a plan that bends reveals
the bottleneck here, on 3 M rows, instead of on the 100 TB run.

Probes (one per dominant shape in the suite):
- exact_dedup   : md5 digest groupBy (q40 family - pure hash agg)
- minhash_lsh   : shingle explode + K-min signatures + band self-join
                  (q42/q43 - the dedup backbone)
- prefix_sum    : range-partitioned global cumsum (plans/common.py -
                  the distributed total-order primitive under
                  q154/q200/q230 etc.)
- window_rank   : per-key window rank + filter (q204 family)
- hash_join_agg : fact-fact equi-join + aggregate (q17 family)

Replication multiplies duplicate density for minhash_lsh (every doc
gains k-1 exact twins), so its candidate-pair output grows ~k^2 by
construction; the probe therefore also reports rows_out and
normalizes: for the LSH probe the fair scale check is
time / (rows_in + pairs_out).

Usage: python tools/scale_probe.py [sf_dir] [k ...]
Writes SCALE_PROBE.json at the repo root and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.oracle_check import dump_artifact, read_artifact
from web_scraping_etl_pipeline_spark.plans.common import (
    global_cumsum,
    release_transients,
    t,
)
from web_scraping_etl_pipeline_spark.session import get_spark

ID_STRIDE = 100_000_000


def replicate(df, key, k):
    """k shifted copies unioned; ids stay unique across copies."""
    if k == 1:
        return df
    parts = [
        df.withColumn(key, F.col(key) + F.lit(i * ID_STRIDE))
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )


def probe_exact_dedup(spark, sf_dir, k):
    docs = replicate(t(spark, sf_dir, "documents"), "doc_id", k)
    out = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep"), F.count("*").alias("copies"))
    )
    return out.count()


def probe_minhash_lsh(spark, sf_dir, k):
    from web_scraping_etl_pipeline_spark.plans.dedup import (
        band_keys,
        minhash_sig_array,
    )

    from web_scraping_etl_pipeline_spark.plans.dedup import LSH_BUCKET_CAP

    docs = replicate(t(spark, sf_dir, "documents"), "doc_id", k)
    sig = minhash_sig_array(docs)
    # persist the banded index like production's cached_band_keys
    # does: the census .first() below would otherwise re-run the whole
    # minhash+banding lineage a second time INSIDE the timed probe,
    # doubling the measured work (round-6 review finding).
    raw = band_keys(sig).persist()
    # production shape includes the hot-bucket guard (count + filter
    # join). Replication multiplies bucket membership, so at high k
    # the cap can start excluding the hottest buckets - which would
    # silently make the probe measure LESS join work than the uncapped
    # shape (the repo's no-silent-caps rule, ADVICE r5). Report what
    # the guard dropped so the scaling curve is interpretable.
    sizes = raw.groupBy("band", "band_key").agg(
        F.count("*").alias("_bn")
    ).persist()
    dropped = (
        sizes.filter(F.col("_bn") > LSH_BUCKET_CAP)
        .agg(
            F.count("*").alias("buckets"),
            F.coalesce(F.sum("_bn"), F.lit(0)).alias("rows"),
        )
        .first()
    )
    if dropped["buckets"]:
        print(
            f"    [minhash_lsh k={k}] hot-bucket cap dropped "
            f"{dropped['buckets']} buckets / {dropped['rows']} rows "
            f"(cap={LSH_BUCKET_CAP}) - curve excludes their join work",
            file=sys.stderr,
        )
    banded = raw.join(
        sizes.filter(F.col("_bn") <= LSH_BUCKET_CAP), ["band", "band_key"]
    ).drop("_bn")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
    )
    n = pairs.count()
    raw.unpersist()
    sizes.unpersist()
    return n


def probe_prefix_sum(spark, sf_dir, k):
    ev = replicate(
        t(spark, sf_dir, "events").select("event_id", "ts_us", "value"),
        "event_id",
        k,
    )
    out, total, _ = global_cumsum(
        ev,
        ["ts_us", "event_id"],
        sums=[("value", "running_value")],
        rn_col="rn",
    )
    n = out.count()
    release_transients()
    return n


def probe_window_rank(spark, sf_dir, k):
    from pyspark.sql import Window

    docs = replicate(t(spark, sf_dir, "documents"), "doc_id", k)
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    out = docs.select(
        "doc_id", "source", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 20)
    return out.count()


def probe_hash_join_agg(spark, sf_dir, k):
    """Fact-fact equi-join + aggregate, measured at Spark's DEFAULT
    10 MB broadcast threshold rather than the session's 64 MB.

    Why (r8 VERDICT item 6, diagnosed r9): at k=16 the replicated
    orders side estimates ~43 MB - still under the session's 64 MB
    local threshold - so the planner kept BROADCASTING a 2.4M-row
    build side, and the single-threaded driver collect+hashtable
    build dominated the probe (x9.62 time at x16; forcing SMJ gives
    x~3.5). Neither shuffle spill nor superlinearity: a threshold
    boundary artifact of mid-range replication. On a real fact-fact
    join at 100 TB the build side exceeds ANY threshold and plans
    SMJ, which is the path this probe exists to characterize, so the
    probe pins the representative strategy explicitly. (Real
    fact-fact queries in the suite either bucket-join - q271/q272 -
    or shuffle; only bounded frames are broadcast, enforced by the
    plan audit's unbounded-broadcast detector.)"""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024)
    )
    try:
        orders = replicate(t(spark, sf_dir, "orders"), "o_orderkey", k)
        li = replicate(t(spark, sf_dir, "lineitem"), "l_orderkey", k)
        out = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        return out.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def probe_ngram_lm_join(spark, sf_dir, k):
    """q281's shape: bigram explode -> n-gram-keyed count tables ->
    score join back onto the per-doc bigram instances -> per-doc fold.
    Replication multiplies every bigram's corpus count by k but the
    join keys stay vocabulary-sized, so the curve isolates the
    n-gram-keyed shuffle joins (the stage that dominates LM scoring
    at corpus scale)."""
    docs = replicate(
        t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id", k
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    bigrams = F.expr(
        "zip_with(slice(toks, 1, greatest(size(toks)-1, 0)),"
        "         slice(toks, 2, greatest(size(toks)-1, 0)),"
        "         (a, b) -> concat(a, ' ', b))"
    )
    db = docs.select(
        "doc_id", toks.alias("toks")
    ).select("doc_id", F.explode(bigrams).alias("bigram"))
    bg = db.groupBy("bigram").agg(F.count("*").alias("c2"))
    ctx = bg.groupBy(
        F.split(F.col("bigram"), " ").getItem(0).alias("w1")
    ).agg(F.sum("c2").alias("c1"))
    scored = (
        db.join(bg, "bigram")
        .join(ctx, F.split(F.col("bigram"), " ").getItem(0) == F.col("w1"))
        .groupBy("doc_id")
        .agg(F.avg(-F.log(F.col("c2") / F.col("c1"))).alias("nll"))
    )
    return scored.count()


def probe_bpe_rounds(spark, sf_dir, k):
    """q300's shape: corpus explode -> word-frequency table -> THREE
    pair-census + argmax rounds. Replication grows the corpus k-fold
    but the word VOCABULARY stays fixed, so the expected curve is:
    census build linear in k, per-round cost ~flat (the corpus-to-
    vocab reduction is exactly the scale claim q300 makes)."""
    docs = replicate(
        t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id", k
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    words = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            F.concat(
                F.lit(" "), F.array_join(F.split("w", ""), "  "), F.lit(" ")
            ).alias("spaced"),
            "freq",
        )
    )
    tbl = words.localCheckpoint()
    vocab = tbl.count()
    for _ in range(3):
        syms = F.split(F.trim(F.col("spaced")), "  ")
        n = F.size(syms) - 1
        z = F.arrays_zip(F.slice(syms, 1, n), F.slice(syms, 2, n))
        pair = F.transform(z, lambda g: F.concat_ws(" ", g["0"], g["1"]))
        top = (
            tbl.filter(F.size(syms) >= 2)
            .select(F.explode(pair).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        left, right = top[0]["pair"].split(" ")
        tbl = tbl.withColumn(
            "spaced",
            F.replace(
                F.col("spaced"),
                F.lit(f" {left}  {right} "),
                F.lit(f" {left}{right} "),
            ),
        )
    return vocab


def probe_power_iteration(spark, sf_dir, k):
    """q303's shape: one X^T(Xv) pass - a 64-term codegen projection
    plus 64 partial-aggregated SUMs. Pure map+reduce, expected
    sub-linear on local[32] until the scan saturates cores."""
    emb = replicate(
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
        k,
    )
    v = [0.125] * 64
    s_sql = " + ".join(
        f"(CAST(element_at(embedding, {i}) AS DOUBLE) * ({v[i - 1]!r}))"
        for i in range(1, 65)
    )
    proj = emb.select(F.expr(s_sql).alias("s"), "embedding")
    row = proj.agg(
        *[
            F.sum(
                F.expr(f"s * CAST(element_at(embedding, {d}) AS DOUBLE)")
            ).alias(f"u{d}")
            for d in range(1, 65)
        ]
    ).collect()[0]
    return sum(1 for d in range(1, 65) if row[f"u{d}"] is not None)


def probe_grid_neighbors(spark, sf_dir, k):
    """q360 DBSCAN's dominant stage: eps-cell bucketing + the 3x3
    adjacent-cell join + exact distance filter + degree count.
    Replication places exact twins at identical lattice points, so
    within-cell pair output grows ~k^2 by construction (like the LSH
    probe); rows_out normalizes the curve."""
    emb = replicate(t(spark, sf_dir, "embeddings"), "vec_id", k)
    eps = 25_000
    p = emb.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1_000_000)
        .cast("long")
        .alias("xi"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1_000_000)
        .cast("long")
        .alias("yi"),
    )
    c = p.select(
        "vec_id",
        "xi",
        "yi",
        F.expr(f"xi DIV {eps}").alias("cx"),
        F.expr(f"yi DIV {eps}").alias("cy"),
    )
    offs = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dx).cast("long").alias("dx"),
                        F.lit(dy).cast("long").alias("dy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("o")
    ).select("o.dx", "o.dy")
    a = c.crossJoin(F.broadcast(offs)).select(
        F.col("vec_id").alias("ia"),
        F.col("xi").alias("xa"),
        F.col("yi").alias("ya"),
        (F.col("cx") + F.col("dx")).alias("jx"),
        (F.col("cy") + F.col("dy")).alias("jy"),
    )
    b = c.select(
        F.col("vec_id").alias("ib"),
        F.col("xi").alias("xb"),
        F.col("yi").alias("yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    deg = (
        a.join(b, ["jx", "jy"])
        .filter(
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            <= F.lit(eps).cast("long") * eps
        )
        .groupBy("ia")
        .agg(F.count("*").alias("n"))
    )
    return deg.agg(F.sum("n")).first()[0]


def probe_grid_neighbors_scaled(spark, sf_dir, k):
    """q360's eps-grid stage under the RESOLUTION-SCALES-WITH-DENSITY
    contract (VERDICT r13 item 6). probe_grid_neighbors keeps eps
    FIXED while replication multiplies density, so true neighbor
    counts - the algorithm's actual OUTPUT - grow ~k^2 by
    construction (172.6M pairs at 64x in r13): that curve indicts the
    parameterization, not the plan. A 100-TB deploy re-derives eps
    (or the cell size) from corpus density, exactly like LSH sign
    bits grow with corpus size. This probe states that contract
    executably: eps_k = eps / sqrt(k) (2-D cell area ~ 1/N keeps
    expected per-cell occupancy constant), and each replica copy is
    jittered diagonally by copy_index * eps_k so densification
    INTERLEAVES points instead of stacking exact twins (a stacked
    twin is within ANY eps of its original, which would hide the
    rescaling entirely). Certificate: pairs_out and time ~linear in
    N."""
    emb = replicate(t(spark, sf_dir, "embeddings"), "vec_id", k)
    eps = max(1, int(25_000 / (k ** 0.5)))
    p = emb.select(
        "vec_id",
        (
            F.floor(
                F.element_at("embedding", 1).cast("double") * 1_000_000
            ).cast("long")
            + (F.col("vec_id") / ID_STRIDE).cast("long") * eps
        ).alias("xi"),
        (
            F.floor(
                F.element_at("embedding", 2).cast("double") * 1_000_000
            ).cast("long")
            + (F.col("vec_id") / ID_STRIDE).cast("long") * eps
        ).alias("yi"),
    )
    c = p.select(
        "vec_id",
        "xi",
        "yi",
        F.expr(f"xi DIV {eps}").alias("cx"),
        F.expr(f"yi DIV {eps}").alias("cy"),
    )
    offs = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dx).cast("long").alias("dx"),
                        F.lit(dy).cast("long").alias("dy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("o")
    ).select("o.dx", "o.dy")
    a = c.crossJoin(F.broadcast(offs)).select(
        F.col("vec_id").alias("ia"),
        F.col("xi").alias("xa"),
        F.col("yi").alias("ya"),
        (F.col("cx") + F.col("dx")).alias("jx"),
        (F.col("cy") + F.col("dy")).alias("jy"),
    )
    b = c.select(
        F.col("vec_id").alias("ib"),
        F.col("xi").alias("xb"),
        F.col("yi").alias("yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    deg = (
        a.join(b, ["jx", "jy"])
        .filter(
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            <= F.lit(eps).cast("long") * eps
        )
        .groupBy("ia")
        .agg(F.count("*").alias("n"))
    )
    return deg.agg(F.sum("n")).first()[0]


def probe_cluster_moments(spark, sf_dir, k):
    """q386/q387/q388's shared shape: per-label (count, 64-dim
    coordinate-sum vector, squared-norm sum) moments in one hash
    aggregate - pure O(N*dim) map+combine, the no-pairs clustering-
    validation backbone."""
    emb = replicate(t(spark, sf_dir, "embeddings"), "vec_id", k)
    pts = emb.select(
        F.col("label").cast("long").alias("label"),
        F.expr(
            "transform(embedding,"
            " v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("qi"),
    )
    mom = pts.groupBy("label").agg(
        F.count("*").alias("n_c"),
        *[
            F.sum(F.element_at("qi", i)).alias(f"s{i}")
            for i in range(1, 65)
        ],
        F.sum(
            F.expr(
                "aggregate(transform(qi, v -> v * v), 0L, (a, v) -> a + v)"
            )
        ).alias("q_c"),
    )
    return mom.count()


def _bucket_knn_pairs(spark, sf_dir, k, cap):
    """Shared body for the two bucket-join probes below: sign-LSH
    bucket equi-join pair stage + per-node top-k window, with the
    candidate side optionally capped per bucket (cap=None keeps
    every member - the pre-r13 q158 shape, still q382 LOF's exact
    stage)."""
    emb = replicate(t(spark, sf_dir, "embeddings"), "vec_id", k)
    # 8-bit sign-LSH over fixed dims: same class as plans/vectors.py
    # _bucket_expr (deterministic, data-independent projection).
    bucket = F.expr(
        "concat_ws('', transform(slice(embedding, 1, 8),"
        " v -> CASE WHEN CAST(v AS DOUBLE) >= 0 THEN '1' ELSE '0' END))"
    )
    qi = F.expr(
        "transform(embedding,"
        " v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
    )
    pts = emb.select("vec_id", qi.alias("qi"), bucket.alias("bucket"))
    a = pts.select(
        F.col("vec_id").alias("p"), F.col("qi").alias("qa"), "bucket"
    )
    cand = pts
    if cap is not None:
        from pyspark.sql import Window as W  # noqa: PLC0415

        cand = (
            pts.withColumn(
                "_crk",
                F.row_number().over(
                    W.partitionBy("bucket").orderBy("vec_id")
                ),
            )
            .filter(F.col("_crk") <= cap)
            .drop("_crk")
        )
    b = cand.select(
        F.col("vec_id").alias("o"), F.col("qi").alias("qb"), "bucket"
    )
    dist = (
        "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, v) -> acc + v)"
    )
    from pyspark.sql import Window

    d = (
        a.join(b, "bucket")
        .filter(F.col("p") != F.col("o"))
        .select("p", "o", F.expr(dist).alias("d2"))
    )
    w = Window.partitionBy("p").orderBy("d2", "o")
    # One action through the FULL plan (bucket join + distance + per-
    # node window), returning the PAIR fan-out - the quantity the
    # docstring says normalizes this curve. The old code returned the
    # top-5-capped knn count (linear by construction), which made
    # x_time look superlinear against a flat rows_out even when the
    # per-pair cost was constant: replication multiplies every bucket
    # k-fold, so pairs grow ~k^2 BY DESIGN and the honest certificate
    # is sec/pair staying flat, not sec staying linear (r11, VERDICT
    # r10 item 5).
    agg = (
        d.withColumn("rk", F.row_number().over(w))
        .agg(
            F.count(F.lit(1)).alias("pairs"),
            F.sum((F.col("rk") <= 5).cast("long")).alias("knn"),
        )
        .collect()[0]
    )
    return agg["pairs"]


def probe_knn_capped_pairs(spark, sf_dir, k):
    """q158/q340/q376's kNN-graph build as of r13, and q382 LOF's
    pair stage as of r14: the sign-LSH bucket equi-join with the
    KNN_BUCKET_CAP candidate-side cap (VERDICT r12 item 2 extended by
    VERDICT r13 item 2 - this probe's qi-distance pair stage is
    byte-for-byte q382's capped candidate shape). Replication places exact twins in identical
    buckets, so the UNCAPPED pair output grows ~k^2 by construction
    (72.6M pairs at 64x in r12); with the cap the candidate side is
    bounded at 64 per bucket and pairs grow ~linearly in N - rows_out
    IS the certificate here, sec/pair stays the secondary check. The
    probe's 256 buckets hold ~8 members each at 1x, so the cap starts
    binding around 16x and fully bounds the 64x point."""
    from web_scraping_etl_pipeline_spark.plans.vectors import (  # noqa: PLC0415
        KNN_BUCKET_CAP,
    )

    return _bucket_knn_pairs(spark, sf_dir, k, KNN_BUCKET_CAP)


def probe_lof_bucket_pairs(spark, sf_dir, k):
    """The UNCAPPED counterfactual of q382 LOF's pair stage. Through
    r13 this WAS q382's registered plan; r14 extended the
    KNN_BUCKET_CAP discipline to the LOF candidate side (VERDICT r13
    item 2 - the 103.7x curve this probe measured at 64x was the one
    remaining super-linear registered shape), so the query's actual
    stage is now probe_knn_capped_pairs. This probe stays in the
    matrix deliberately: it keeps the uncapped fan-out honest in the
    artifact (pairs ~k^2 on replicated twins BY CONSTRUCTION) so the
    capped-vs-uncapped gap is measured, not asserted."""
    return _bucket_knn_pairs(spark, sf_dir, k, None)


def probe_banded_edit_verify(spark, sf_dir, k):
    """q282/q294's verify shape: a BANDED sorted-neighborhood pair
    stage (256 hash bands, each doc paired with its next W=2
    neighbors inside the band - linear pair output by construction)
    followed by the candidates-only Levenshtein verify (the O(len^2)
    DP that must never run all-pairs). Pair fan-out is W per row, so
    an ~linear curve here certifies the verify family's 100 TB
    shape."""
    from pyspark.sql import Window

    docs = replicate(t(spark, sf_dir, "documents"), "doc_id", k)
    keyed = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.substring(F.md5("text"), 1, 2).alias("band"),
        F.col("text"),
    )
    w = Window.partitionBy("band").orderBy("h", "doc_id")
    pairs = keyed.select(
        "doc_id",
        "text",
        F.lead("text", 1).over(w).alias("text_b1"),
        F.lead("text", 2).over(w).alias("text_b2"),
    )
    verified = pairs.select(
        "doc_id",
        F.explode(
            F.array_compact(F.array("text_b1", "text_b2"))
        ).alias("text_b"),
        "text",
    ).select(F.levenshtein("text", "text_b").alias("d"))
    return verified.filter(F.col("d") <= 50).count()


def probe_wedge_closure(spark, sf_dir, k):
    """q416/q421's transitivity shape: canonical edge list -> 
    adjacency self-join on the shared endpoint (wedge enumeration)
    -> semi-join back to the edge set (closure test). Edges here are
    the distinct click-graph pairs, replicated STRUCTURE-PRESERVING
    (k disjoint shifted copies), so wedge output grows exactly
    linearly and a linear time curve certifies the shape: every join
    is an equi-join keyed on edge endpoints, never corpus-quadratic.
    """
    ev = t(spark, sf_dir, "events")
    e0 = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("u"),
            (
                F.get_json_object("props", "$.k").cast("long")
                + 1_000_000
            ).alias("v"),
        )
        .distinct()
    )
    e = replicate(e0, "u", k).withColumn(
        "v", F.col("v") + (F.col("u") / ID_STRIDE).cast("long") * ID_STRIDE
    )
    lo = F.least("u", "v")
    hi = F.greatest("u", "v")
    ec = e.select(lo.alias("lo"), hi.alias("hi")).distinct()
    adj = ec.select(
        F.col("lo").alias("x"), F.col("hi").alias("y")
    ).union(ec.select(F.col("hi").alias("x"), F.col("lo").alias("y")))
    a1 = adj.select(F.col("y").alias("mid"), F.col("x").alias("x1"))
    a2 = adj.select(F.col("y").alias("mid2"), F.col("x").alias("x2"))
    wedges = a1.join(
        a2, (F.col("mid") == F.col("mid2")) & (F.col("x1") < F.col("x2"))
    ).select("x1", "x2")
    # the click graph is bipartite, so closures are structurally 0;
    # an OUTER join performs the same closure-probe work while the
    # count records the wedge fan-out (the quantity that must scale).
    closed = wedges.join(
        ec,
        (F.col("x1") == F.col("lo")) & (F.col("x2") == F.col("hi")),
        "left_outer",
    )
    return closed.count()


def probe_adaboost_rounds(spark, sf_dir, k):
    """q339 AdaBoost's shape: per round, a weighted corpus scan into a
    (feature, threshold) hash aggregate whose size is the VALUE domain
    (~bounded), a cumulative window over that bounded frame, a 1-row
    argmin collect, and a map-only integer reweight. Replication grows
    the corpus k-fold while the stump-candidate frame stays bounded,
    so the expected curve is linear in the scan with flat per-round
    overhead (q339's 100 TB claim)."""
    from pyspark.sql import Window

    docs = replicate(
        t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "doc_id",
        k,
    )
    d = docs.select(
        "doc_id",
        F.expr("CAST(n_chars AS LONG) DIV 64").alias("f1"),
        F.when(F.col("n_chars") % 2 == 0, 1).otherwise(-1).alias("y"),
        F.lit(1_000_000).cast("long").alias("w"),
    )
    d = d.localCheckpoint()
    rows = 0
    for _ in range(3):
        bk = d.groupBy("f1").agg(
            F.sum(F.when(F.col("y") == 1, F.col("w")).otherwise(0))
            .cast("long")
            .alias("wpos"),
            F.sum(F.when(F.col("y") == -1, F.col("w")).otherwise(0))
            .cast("long")
            .alias("wneg"),
        )
        wcum = Window.orderBy("f1").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = bk.select(
            "f1",
            F.sum("wneg").over(wcum).alias("cneg"),
            F.sum("wpos").over(wcum).alias("cpos"),
        )
        best = cum.orderBy(
            (F.col("cneg") - F.col("cpos")).asc(), F.col("f1")
        ).limit(1).collect()[0]
        thr = int(best["f1"])
        rows += 1
        pred = F.when(F.col("f1") <= thr, 1).otherwise(-1)
        d = d.select(
            "doc_id",
            "f1",
            "y",
            F.when(pred != F.col("y"), F.expr("(w * 1500000) DIV 1000000"))
            .otherwise(F.col("w"))
            .alias("w"),
        ).localCheckpoint()
    return d.count()


def probe_pq_codebooks(spark, sf_dir, k):
    """q349 product quantization's shape: 4 independent 16-dim
    subspace Lloyd loops (2 rounds each), every round a broadcast NLJ
    of the corpus against a 4-row centroid frame + min_by hash argmin
    + groupBy re-center, all composed in ONE lazy plan (no per-round
    checkpoint - the adjudicated q349 design note). Replication grows
    the corpus; centroid frames stay 4 rows, so the expected curve is
    linear in the scan."""
    emb = replicate(
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
        k,
    )
    pq_m, sub_d, pq_k, pq_t = 4, 16, 4, 2
    outs = []
    for m in range(pq_m):
        base = m * sub_d
        ctr = (
            emb.orderBy("vec_id")
            .limit(pq_k)
            .select(
                F.col("vec_id").cast("long").alias("code"),
                F.transform(
                    F.slice("embedding", base + 1, sub_d),
                    lambda v: v.cast("double"),
                ).alias("c"),
            )
        )
        dist = F.expr(
            " + ".join(
                f"((CAST(element_at(embedding, {base + j}) AS DOUBLE)"
                f" - element_at(c, {j}))"
                f" * (CAST(element_at(embedding, {base + j}) AS DOUBLE)"
                f" - element_at(c, {j})))"
                for j in range(1, sub_d + 1)
            )
        )
        assigned = None
        for _ in range(pq_t):
            assigned = (
                emb.crossJoin(F.broadcast(ctr))
                .withColumn("dist", dist)
                .groupBy("vec_id")
                .agg(
                    F.min_by(
                        F.col("code"), F.struct("dist", "code")
                    ).alias("code"),
                    F.any_value("embedding").alias("embedding"),
                )
            )
            ctr = (
                assigned.groupBy("code")
                .agg(
                    *[
                        F.round(
                            F.avg(
                                F.expr(
                                    f"CAST(element_at(embedding,"
                                    f" {base + j}) AS DOUBLE)"
                                )
                            ),
                            7,
                        ).alias(f"c{j}")
                        for j in range(1, sub_d + 1)
                    ]
                )
                .select(
                    "code",
                    F.array(*[f"c{j}" for j in range(1, sub_d + 1)]).alias(
                        "c"
                    ),
                )
            )
        outs.append(
            assigned.groupBy("code").agg(F.count("*").alias("n_members"))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.count()


def probe_suffix_lcp(spark, sf_dir, k):
    """q294's shape: token-suffix strings through the range-partitioned
    global_lead (the heaviest total-order shape in the suite - the
    exchange carries LONG STRING keys, not scalars), then the LCP map
    stage. Replicated copies interleave in the global suffix order but
    contribute no cross-copy near-equal neighbors beyond the originals,
    so the curve measures the range-exchange + in-partition sort cost
    on wide keys - expected near-linear."""
    from web_scraping_etl_pipeline_spark.plans.common import global_lead

    docs = replicate(
        t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id", k
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    sufs = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(split(trim(lower(text)),"
                " '\\\\s+'))), i -> array_join(slice(split(trim("
                "lower(text)), '\\\\s+'), i, 12), ' '))"
            )
        ).alias("pos0", "suf"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "suf")
    led = global_lead(sufs, ["suf", "doc_id", "pos"], ["suf", "doc_id"], k=1)
    cand = led.filter(
        F.col("_lead1_doc_id").isNotNull()
        & (F.col("_lead1_doc_id") != F.col("doc_id"))
    )
    return cand.count()


def probe_cep_window(spark, sf_dir, k):
    """q233/q238's shape: the conditional-lookahead window (per-user
    MIN of a CASE-struct over the following frame) that CEP pattern
    matching compiles to. One hash exchange on user_id + an
    in-partition sort; replication adds disjoint users, so the curve
    should track the exchange linearly."""
    from pyspark.sql import Window

    ev = replicate(
        t(spark, sf_dir, "events").select(
            "user_id", "event_id", "ts_us", "event_type"
        ),
        "user_id",
        k,
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    np_struct = F.min(
        F.when(
            F.col("event_type") == "purchase",
            F.struct("ts_us", "event_id"),
        )
    ).over(w)
    ne_ts = F.min(
        F.when(F.col("event_type") == "error", F.col("ts_us"))
    ).over(w)
    flagged = ev.select(
        "user_id", "event_type", "ts_us", "event_id",
        np_struct.alias("np"), ne_ts.alias("ne"),
    ).filter(F.col("event_type") == "click")
    matched = flagged.filter(
        F.col("np").isNotNull()
        & (F.col("np.ts_us") <= F.col("ts_us") + 600_000_000)
        & (F.col("ne").isNull() | (F.col("ne") >= F.col("np.ts_us")))
    )
    return matched.count()


def probe_beam_rounds(spark, sf_dir, k):
    """q361/q325's decode shape: a persisted bigram transition table
    probed per level by a <=2-row broadcast hypothesis frame +
    TakeOrdered(2). The census scales with the corpus; each of the 4
    levels below is one filtered join whose probe side is constant
    size - a flat-ish curve certifies that beam depth never touches
    corpus-sized state twice."""
    docs = replicate(t(spark, sf_dir, "documents"), "doc_id", k)
    toks = docs.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks")
    )
    bigrams = F.expr(
        "zip_with(slice(toks, 1, greatest(size(toks)-1, 0)),"
        "         slice(toks, 2, greatest(size(toks)-1, 0)),"
        "         (a, b) -> concat(a, ' ', b))"
    )
    bg = (
        toks.select(F.explode(bigrams).alias("bigram"))
        .select(
            F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
            F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = bg.groupBy("w1").agg(F.sum("cnt").alias("tot"))
    pp = (
        bg.join(tot, "w1")
        .select("w1", "w2", F.expr("(1000000 * cnt) DIV tot").alias("p"))
        .repartition("w1")
        .persist()
    )
    census = pp.count()
    uni = toks.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count("*").cast("long").alias("cnt")
    )
    seed = (
        uni.orderBy(F.col("cnt").desc(), "w").limit(2).collect()
    )
    beam = [(r["w"], r["w"], int(r["cnt"])) for r in seed]
    for _ in range(4):
        hyp = spark.createDataFrame(
            beam, "seq string, last string, score long"
        )
        nxt = (
            F.broadcast(hyp).join(pp, hyp.last == pp.w1)
            .select(
                F.concat_ws(" ", "seq", "w2").alias("seq"),
                F.col("w2").alias("last"),
                (F.col("score") + F.col("p")).alias("score"),
            )
            .orderBy(F.col("score").desc(), "seq")
            .limit(2)
            .collect()
        )
        beam = [(r["seq"], r["last"], int(r["score"])) for r in nxt]
        if not beam:
            break
    pp.unpersist()
    return census


def probe_kcenter_rounds(spark, sf_dir, k):
    """q362's farthest-first traversal: per-point running min-dist
    column updated by a broadcast 1-row center + TakeOrdered(1) per
    round (4 rounds here). Total distance work is O(rounds * N), so
    the curve must track N linearly - a bend means the running-min
    device regressed to |centers| x |points| recomputation."""
    emb = replicate(t(spark, sf_dir, "embeddings"), "vec_id", k)
    qi = F.expr(
        "transform(embedding,"
        " v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
    )
    pts = emb.select("vec_id", qi.alias("qi")).persist()
    n = pts.count()
    dist = (
        "aggregate(zip_with(qi, cqi, (p, q) -> (p - q) * (p - q)),"
        " 0L, (acc, x) -> acc + x)"
    )
    first = pts.orderBy("vec_id").limit(1).first()
    center = spark.createDataFrame(
        [(list(first["qi"]),)], "cqi array<bigint>"
    )
    d = pts.crossJoin(F.broadcast(center)).select(
        "vec_id", "qi", F.expr(dist).alias("md")
    )
    persists = [pts]
    for _ in range(4):
        d = d.persist()
        persists.append(d)
        far = d.orderBy(F.col("md").desc(), "vec_id").limit(1).first()
        center = spark.createDataFrame(
            [(list(far["qi"]),)], "cqi array<bigint>"
        )
        d = d.crossJoin(F.broadcast(center)).select(
            "vec_id",
            "qi",
            F.least(F.col("md"), F.expr(dist)).alias("md"),
        )
    for p in persists:
        p.unpersist()
    return n


def probe_apriori_triples(spark, sf_dir, k):
    """q358's downward-closure mining shape: distinct doc-term
    projection -> broadcast top-25 vocab gate -> frequent-pair
    semi-joins -> triple count. Replication scales both supports and
    the integer threshold proportionally, so the candidate structure
    is k-invariant and the curve isolates the join/aggregate cost."""
    docs = replicate(t(spark, sf_dir, "documents"), "doc_id", k)
    dt0 = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term"),
    ).distinct()
    top = (
        dt0.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(25)
        .select("term")
    )
    dt = dt0.join(F.broadcast(top), "term").select("doc_id", "term")
    dt = dt.persist()
    n_docs = docs.select("doc_id").distinct().count()
    # 50% support, not q358's 57%: the sf0.1 corpus tops out at 54.8%
    # triple support, and a probe whose final filter passes zero rows
    # would time the joins but certify nothing about the emitted set.
    minsup = (50 * n_docs) // 100
    a = dt.select("doc_id", F.col("term").alias("t1"))
    b = dt.select("doc_id", F.col("term").alias("t2"))
    c = dt.select("doc_id", F.col("term").alias("t3"))
    fp = (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("long").alias("sup"))
        .filter(F.col("sup") >= minsup)
        .select("t1", "t2")
    )
    tri = (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .join(F.broadcast(fp), ["t1", "t2"], "left_semi")
        .join(c, "doc_id")
        .filter(F.col("t2") < F.col("t3"))
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= minsup)
    )
    out = tri.count()
    dt.unpersist()
    return out


PROBES = {
    "exact_dedup": probe_exact_dedup,
    "minhash_lsh": probe_minhash_lsh,
    "prefix_sum": probe_prefix_sum,
    "window_rank": probe_window_rank,
    "hash_join_agg": probe_hash_join_agg,
    "ngram_lm_join": probe_ngram_lm_join,
    "bpe_rounds": probe_bpe_rounds,
    "power_iteration": probe_power_iteration,
    "grid_neighbors": probe_grid_neighbors,
    "grid_neighbors_scaled": probe_grid_neighbors_scaled,
    "cluster_moments": probe_cluster_moments,
    "knn_capped_pairs": probe_knn_capped_pairs,
    "lof_bucket_pairs": probe_lof_bucket_pairs,
    "banded_edit_verify": probe_banded_edit_verify,
    "wedge_closure": probe_wedge_closure,
    "adaboost_rounds": probe_adaboost_rounds,
    "pq_codebooks": probe_pq_codebooks,
    "suffix_lcp": probe_suffix_lcp,
    "cep_window": probe_cep_window,
    "beam_rounds": probe_beam_rounds,
    "kcenter_rounds": probe_kcenter_rounds,
    "apriori_triples": probe_apriori_triples,
}


def main():
    argv = list(sys.argv[1:])
    only = None
    if "--probes" in argv:
        # Subset runs (e.g. extending two steep curves to 64x,
        # VERDICT r10 item 5) MERGE into the existing artifact; a
        # probe's own dict keys are its measured ks, so mixed depths
        # across probes stay self-describing.
        i = argv.index("--probes")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
        unknown = only - set(PROBES)
        if unknown:
            raise SystemExit(f"unknown probes: {sorted(unknown)}")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    ks = [int(a) for a in argv[1:]] or [1, 4, 16]
    selected = {
        n: f for n, f in PROBES.items() if only is None or n in only
    }
    spark = get_spark(app_name="scale-probe")
    # warm the JVM/codegen so k=1 is not charged compilation cost
    for fn in selected.values():
        fn(spark, sf_dir, 1)
    results: dict[str, dict] = {}
    for name, fn in selected.items():
        results[name] = {}
        for k in ks:
            t0 = time.time()
            rows = fn(spark, sf_dir, k)
            results[name][str(k)] = {
                "sec": round(time.time() - t0, 3),
                "rows_out": rows,
            }
        base = results[name][str(ks[0])]["sec"]
        for k in ks:
            r = results[name][str(k)]
            r["x_time"] = round(r["sec"] / base, 2) if base else None
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(here, "SCALE_PROBE.json")
    payload = {"sf_dir": sf_dir, "ks": ks, "probes": results}
    if only is not None:
        prior = read_artifact(out_path)
        merged = dict(prior.get("probes", {}))
        merged.update(results)
        payload = {
            "sf_dir": sf_dir,
            "ks": prior.get("ks", ks),
            "probes": merged,
        }
    dump_artifact(out_path, payload, sort_keys=False)
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
