"""Structured Streaming over ``documents``: incremental near-dup
screening of newly crawled documents against a static LSH index.

The batch dedup pipeline (plans/dedup.py q42/q43) assumes the whole
corpus is on disk; a live crawl wants every NEW document checked
against the existing corpus as it arrives - the streaming flavor of
the reference's incremental contract (topcv_pipeline.py:20-33 only
ingests rows newer than the watermark; here only new docs are
screened). The MinHash/band formulas are kept bit-identical with
q42's so the stream and the batch index agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    MINHASH_P,
    _MINHASH_PERM_SQL,
    _h64,
    _shingles,
)
from ..plans.mlprep import _h60, _h60_sql
from ..plans.registry import query
from ..plans.common import t
from ..sources.star import parquet_schema
from .events_stream import _run_to_sink


def _stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (same pattern as
    events_stream._stream_events: memoized footer schema +
    pathGlobFilter)."""
    return (
        spark.readStream.schema(
            parquet_schema(spark, f"{sf_dir}/documents.parquet")
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def _band_keys(df: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) via MAP-ONLY expressions - no groupBy,
    so the same code runs on a streaming frame in append mode.

    The batch signature builder (dedup.minhash_sig_array) uses explode +
    K-min-aggregate because that keeps the heavy path in whole-stage
    codegen for a full-corpus scan; an aggregate is not stateless, so
    the stream computes each signature as ``array_min(transform(...))``
    over the per-shingle base-hash array instead - same affine
    ``(A_p * x + B_p) mod P`` permutation family as the batch side
    (dedup.MINHASH_P), same band_key ``md5(concat_ws('_', sigs))``,
    per-row. The base hash is materialized ONCE per shingle and the K
    permutations are cheap arithmetic transforms over it (the same
    1-md5-per-shingle economy the batch builder gets). The
    higher-order lambdas evaluate interpreted, which is the price of
    statelessness; the arrays are per-document (bounded), so the cost
    stays linear and partition-parallel.

    Documents with no 3-gram shingles (<3 tokens) produce no signature
    in the batch pipeline (no rows survive its explode) and are
    filtered identically here."""
    sh = F.array_distinct(_shingles())
    xs = F.transform(sh, lambda s: _h64(s) % MINHASH_P)

    def perm(p):
        # one-arg lambda per permutation: a 2-arg lambda (x, p=p) would
        # be treated by F.transform as the (element, index) form.
        return lambda x: (
            F.lit(2 * p + 1) * x + F.lit(1000003 * p + 12345)
        ) % MINHASH_P

    sigs = [
        F.array_min(F.transform(F.col("_xs"), perm(p))).alias(f"m{p}")
        for p in range(MINHASH_K)
    ]
    with_sigs = (
        df.filter(F.size(sh) > 0)
        .select("doc_id", xs.alias("_xs"))
        .select("doc_id", *sigs)
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.md5(
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"m{b * LSH_ROWS + r}").cast("string")
                            for r in range(LSH_ROWS)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    return with_sigs.select(
        "doc_id", F.explode(bands).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_key")


#: oracle CTE: band keys per (doc, band) with the q79 hash-split bucket,
#: formula-identical with q42's signatures.
_BANDED_SQL = f"""
    WITH split AS (
      SELECT doc_id, text,
             {_h60_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents
    ),
    sh AS (
      SELECT doc_id, bucket,
             unnest(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)),
                                                        '\\s+')) - 2, 0) + 1),
               i -> array_to_string(
                      list_slice(string_split_regex(trim(lower(text)),
                                                    '\\s+'), i, i + 2), ' ')))
               AS s
      FROM split
    ),
    hx AS (
      SELECT doc_id, bucket,
             CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)
               % {MINHASH_P} AS x
      FROM sh
    ),
    k AS (
      SELECT doc_id, bucket, x, unnest(range(0, {MINHASH_K})) AS perm
      FROM hx
    ),
    sig AS (
      SELECT doc_id, bucket, perm, MIN({_MINHASH_PERM_SQL}) AS sig
      FROM k GROUP BY 1, 2, 3
    ),
    banded AS (
      SELECT doc_id, bucket, perm // {LSH_ROWS} AS band,
             md5(string_agg(CAST(sig AS VARCHAR), '_' ORDER BY perm))
               AS band_key
      FROM sig GROUP BY doc_id, bucket, perm // {LSH_ROWS}
    )
"""


@query(
    "q206_stream_lsh_neardup",
    oracle=_BANDED_SQL
    + """
    SELECT n.doc_id AS new_doc_id, i.doc_id AS index_doc_id,
           CAST(n.band AS BIGINT) AS band
    FROM banded n JOIN banded i
      ON n.band = i.band AND n.band_key = i.band_key
    WHERE n.bucket >= 90 AND i.bucket < 80
    """,
)
def q206_stream_lsh_neardup(spark, sf_dir):
    """Streaming near-duplicate screen: newly arriving documents (the
    q79 test split, bucket >= 90, playing the role of "today's crawl")
    stream through a map-only MinHash+LSH banding stage and join a
    STATIC band index built from the existing corpus (train split,
    bucket < 80). Every (new doc, index doc) band collision is emitted
    exactly once - the candidates that would then feed a q46-style
    verified-Jaccard stage.

    Scale: the per-document signature is stateless map work, so the
    stream needs NO state store - append mode, unbounded runtime, no
    watermark required. The static index is re-resolved per micro-batch
    (a nightly index rebuild lands without restarting the stream) and
    broadcast here; at 100 TB the index side is a bucketed table and
    the collision check becomes a shuffle-on-(band, band_key) join -
    the plan the batch q43 already demonstrates. Exactly-once per
    collision holds because both the banding explode and the
    stream-static join are stateless (cf. q176).

    Only the STREAM side pays the interpreted higher-order-function
    signature (the price of statelessness, see :func:`_band_keys`);
    the static index side is a batch frame, so it comes from the
    SESSION-CACHED signature stage (plans.dedup.cached_minhash_sigs -
    the same persisted table q42/q43/q122/q219 share) filtered to the
    index split, then banded by the codegen slicer. Identical formula
    to the stream side; measured 10.2 s -> 1.8 s at sf0.1 with the
    signature stage warm (6.9 s cold, amortized across the five
    queries sharing it - the interpreted re-derivation of the 80%
    index split per drain was the dominant cost, and on a cluster the
    index IS a maintained table, not something a stream recomputes)."""
    from ..plans.dedup import band_keys, cached_minhash_sigs

    bucket = F.pmod(_h60(F.col("doc_id").cast("string")), F.lit(100))

    index_sigs = cached_minhash_sigs(spark, sf_dir).filter(bucket < 80)
    index = band_keys(index_sigs).select(
        F.col("doc_id").alias("index_doc_id"), "band", "band_key"
    )

    # the file source delivers one partition per file, so without an
    # explicit split the interpreted signature stage serializes onto
    # ONE task per micro-batch (the t_split rationale, streaming
    # flavor). The repartition shuffles only the filtered batch slice.
    new_docs = (
        _stream_documents(spark, sf_dir)
        .filter(bucket >= 90)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cands = _band_keys(new_docs).join(
        F.broadcast(index), ["band", "band_key"]
    )
    out = cands.select(
        F.col("doc_id").alias("new_doc_id"),
        "index_doc_id",
        F.col("band").cast("long").alias("band"),
    )
    return _run_to_sink(out, spark, "q206")


# ---------------------------------------------------------------------------
# q217: stateful per-source admission quota (streaming rate limiter)
# ---------------------------------------------------------------------------

#: max documents admitted per source over the stream's lifetime.
SOURCE_QUOTA = 25


def source_quota_admit(docs: DataFrame) -> DataFrame:
    """documents stream (doc_id, source) -> the first ``SOURCE_QUOTA``
    docs per source (doc_id order within each micro-batch group),
    stamped with their admission rank. Managed state is ONE BIGINT per
    source - the admitted count - so state size is bounded by source
    cardinality, never stream length: the applyInPandasWithState
    rate-limiter shape (cf. stateful.user_profiles).
    """
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )
    from pyspark.sql import types as T  # noqa: PLC0415

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("admit_rank", T.LongType()),
        ]
    )
    quota = SOURCE_QUOTA

    def admit(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: PLC0415

        (taken,) = state.get if state.exists else (0,)
        outs = []
        for pdf in pdfs:
            if taken >= quota:
                break
            pdf = pdf.sort_values("doc_id")
            room = quota - taken
            cut = pdf.iloc[:room]
            outs.append(
                pd.DataFrame(
                    {
                        "doc_id": cut["doc_id"].astype("int64"),
                        "source": key[0],
                        "admit_rank": taken
                        + pd.RangeIndex(1, len(cut) + 1),
                    }
                )
            )
            taken += len(cut)
        state.update((taken,))
        yield from outs or [
            pd.DataFrame(
                {"doc_id": [], "source": [], "admit_rank": []}
            ).astype(
                {"doc_id": "int64", "source": "object", "admit_rank": "int64"}
            )
        ]

    return docs.groupBy("source").applyInPandasWithState(
        admit,
        outputStructType=out_schema,
        stateStructType="taken BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "q217_stream_source_quota",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY doc_id
             ) AS admit_rank
      FROM documents
    )
    SELECT doc_id, source, CAST(admit_rank AS BIGINT) AS admit_rank
    FROM r WHERE admit_rank <= {SOURCE_QUOTA}
    """,
)
def q217_stream_source_quota(spark, sf_dir):
    """Streaming admission quota: the first SOURCE_QUOTA (25) documents
    per source are admitted, later arrivals dropped - the stateful
    rate-limiter every live crawl runs (q204 is its batch
    retrospective twin). Custom state via ``applyInPandasWithState``:
    one counter per source, updated per micro-batch, admission ranks
    assigned monotonically across batches.

    With one availableNow batch the per-group frame is sorted by
    doc_id, so the admitted set equals the batch rank filter - which
    is what the oracle states. Cross-batch quota carry (docs admitted
    in batch 1 consume batch 2's budget) is pinned by
    tests/test_stateful_streaming.py-style pytest coverage.

    Scale: one shuffle on source, Arrow-batched groups, state bounded
    by |sources| x 8 bytes; the emitted stream is capped at
    quota x |sources| rows regardless of input volume."""
    s = _stream_documents(spark, sf_dir).select("doc_id", "source")
    return _run_to_sink(source_quota_admit(s), spark, "q217")
