"""Local mimic of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares:

- row count
- column names (sorted)
- values: columns sorted by name, rows sorted, exact equality
  (NaN==NaN, None==None); floats compared exactly because both sides
  are expected to round identically - any mismatch prints the first
  differing rows.

Stricter than a hash: shows *where* a mismatch is.

**Fetch path is driver-faithful (round 6)**: both sides go through
pandas - Spark via ``DataFrame.toPandas()``, DuckDB via
``relation.df()`` - because the driver's gate does the same. That is
what makes type-level divergence reproducible locally: a DuckDB
HUGEINT output column becomes float64 (``12`` -> ``12.0``) while the
Spark side stays int64, and the values desync even when every value
is identical (the r04/r05 q230 failure class; VERDICT r5 item 1).
The old ``fetchall()`` path converted HUGEINT to Python int and was
structurally blind to it. Nullable BIGINT columns float-ize on BOTH
sides under pandas (NULL forces float64), so they stay comparable.
Temporal values are canonicalized to ISO strings because DuckDB's
``.df()`` widens DATE to midnight datetime64 while Spark keeps
``datetime.date`` - a representation gap the driver tolerates.

Usage: python tools/oracle_check.py [--json OUT.json] [sf_dir] [query ...]

``--json`` additionally writes a machine-readable per-query record
(the CORRECTNESS_FULL.json artifact) keyed by the exact registry name.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb
import numpy as np

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from web_scraping_etl_pipeline_spark.plans import ORACLE, QUERIES
from web_scraping_etl_pipeline_spark.plans.common import release_transients
from web_scraping_etl_pipeline_spark.schemas import STAR_TABLES
from web_scraping_etl_pipeline_spark.session import get_spark


def _duck_memory_mb() -> int:
    host_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return min(24 * 1024, host_mb // 4)


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    # Resource caps (round 12): a pathological oracle plan - the
    # q362 unrolled per-key CTE chain fans out EXPONENTIALLY on a
    # PK-duplicated census corpus - must fail fast with a clean OOM
    # instead of ballooning to ~100 GB RSS and filling the disk with
    # temp spill (which then poisons CONCURRENT sweeps with spurious
    # IO errors). The cap is at most a quarter of this host's memory:
    # a cap above it bounds nothing, and q219's sf0.1 oracle grew to
    # 11 GB on a 16 GB host until the kernel killed the sweep; under a
    # 4 GB cap it spills and finishes in 18 s.
    con.execute(f"SET memory_limit='{_duck_memory_mb()}MB'")
    con.execute("SET max_temp_directory_size='20GB'")
    for name in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def normalize(value):
    import datetime

    import pandas as pd

    if value is None or value is pd.NaT:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        if value == 0.0:
            return 0.0  # fold IEEE -0.0: equal as floats, but its
            # str() sorts differently and desyncs the row alignment
        return value
    # Canonicalize temporals: duck .df() widens DATE -> midnight
    # datetime64; Spark toPandas keeps datetime.date. Timestamp
    # subclasses datetime, so one isinstance covers all three.
    if isinstance(value, (datetime.date, datetime.datetime)):
        return pd.Timestamp(value).isoformat()
    return value


def pandas_rows(pdf):
    """Driver-faithful extraction: pandas frame -> list of plain-
    Python tuples. numpy SCALARS unbox via .item() (this is where a
    float64-ized HUGEINT/nullable-int column surfaces as ``12.0``);
    numpy ARRAYS (an ArrayType result column) convert via .tolist() -
    calling .item() on those raises "can only convert an array of
    size 1" and would crash the checker instead of comparing
    (ADVICE r6)."""
    out = []
    for row in pdf.to_numpy(dtype=object):
        out.append(
            tuple(
                v.item()
                if isinstance(v, np.generic)
                else (v.tolist() if isinstance(v, np.ndarray) else v)
                for v in row
            )
        )
    return out


def frame_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((v is None, str(type(v)), str(v)) for v in t))
    return [cols[i] for i in order], out


#: float-boundary lint allowlist: oracles where floor/ceil over a
#: float expression is ADJUDICATED safe, with the rationale. The bug
#: class (q174 ROUND tie, q260 -0.0, q230 float-floor at an integer)
#: is a float expression with *systematic mass at a representable
#: boundary* feeding floor/ceil/an ORDER BY; these entries have no
#: such mass or compute the identical IEEE rounding sequence on both
#: engines from identical inputs.
FLOAT_LINT_ALLOW = {
    # Parenthesized IEEE (multiply, divide) over float32-origin data;
    # no reassociation is value-safe so neither engine rewrites it,
    # and the only boundary case (v == hi -> ratio ~ 255.0) executes
    # the same two correctly-rounded ops on identical doubles in both
    # engines; LEAST(..., 255) clamps the high side.
    "q123_embedding_quantization",
    "q156_quantized_rerank",
    # Deliberate FLOOR-quantization of cross-engine-IDENTICAL doubles
    # (round-7 inference suite): the floored value is built from exact
    # integer ratios / the shared rational sigmoid / exact squaring
    # ladders with IDENTICAL expression strings on both engines, so
    # both engines floor the same bit pattern. The floor is what makes
    # the subsequent SUM order-independent - it is the exactness
    # mechanism here, not a hazard.
    "q319_logreg_quality_gd",  # micro-unit gradient contributions
    "q321_average_precision",  # nano-unit precision contributions
    "q323_bottomk_sample_quantiles",  # ceil(q * k_eff) rank picks:
    # 0.25/0.5/0.75 * integer are exact doubles, ceil is exact
    "q324_lsh_parameter_sweep",  # nano-unit S-curve contributions
    # (power-of-two squaring ladders, no libm pow)
    # f^0.75 as sqrt(f)*sqrt(sqrt(f)): IEEE sqrt is CORRECTLY ROUNDED
    # on both engines, so the floored double is bit-identical by
    # construction; the floor makes the normalizer/cumsum integer-
    # exact (same mechanism as the entries above).
    "q333_negative_sampling_table",
    # micro-unit floor of float32 parquet coordinates widened to
    # doubles: the widening and the multiply are bit-identical on
    # both engines, so the floored integer is too; everything after
    # is exact bigint (same mechanism as the entries above).
    "q334_jl_projection_distortion",
    # FLOOR(LN(exact-integer ratio) * 1e6): LN is the one libm call in
    # the floored family that is NOT guaranteed correctly rounded, so
    # bit-identity is 1-ulp-class rather than by-construction. The
    # floor argument is LN of a ratio of exact integers (identical
    # inputs both engines); a flip needs LN(x)*1e6 within ~1 ulp of an
    # integer boundary (~1e-10 per evaluation, x vocabulary-bounded
    # evaluations). The platform assumption is PINNED by
    # tests/test_ln_bit_identity.py (90k-ratio position-weighted
    # checksum, both floor scales, both engines - ADVICE r7); if that
    # test ever fails, switch the log-weight quantization to a
    # rational approximation (the q319 sigmoid device).
    "q337_naive_bayes_lang",  # per-term smoothed log-likelihood weights
    "q339_adaboost_stumps",  # per-round LN alpha in half-micro units
    "q374_tfidf_cosine_topk",  # micro-floored LN(N/df) idf weights
    "q375_markov_entropy_rate",  # micro-floored LN(rowtotal/count), 25 cells
    # micro-unit floor of float32 parquet coordinates widened to
    # doubles (the q334 mechanism): widening and one multiply are
    # bit-identical cross-engine, so the floored grid coordinate is.
    "q360_dbscan_grid",
    "q362_kcenter_coreset",  # same micro-floor lattice as q360
    "q382_lof_outliers",  # same micro-floor lattice as q360
    "q386_silhouette_sq",  # same micro-floor lattice as q360
    "q387_calinski_harabasz",  # same micro-floor lattice as q360
    "q388_davies_bouldin",  # same micro-floor lattice as q360
    # micro-floor lattice (pred bins) + micro-floored LN of exact
    # integer ratios over the bounded contingency cells (q375 class)
    "q389_cluster_agreement",
    # micro-floored LN of midpoint-mixture ratios of exact integers
    # (q375/q337 class, pinned by tests/test_ln_bit_identity.py)
    "q414_jsd_token_mix",
    # micro-floored LN of exact-integer marginal/conditional ratios
    # over the bounded contingency cells (q375 class)
    "q435_theils_u_lang_source",
    # r11 tri-SF fixes: FLOOR(x*scale + 0.5) replaces engine ROUND.
    # For q164 it FIXED a live cross-engine tie the sf0.1 sweep
    # caught (a derived price ratio landing on an exact .5 e4-double);
    # for q273/q276 it is preemptive hardening of the same class (a
    # probe confirmed no raw cent in any fixture lands on .5 at any
    # SF). The floored argument is multiply-add over a double that is
    # bit-identical on both engines (q164: MIN of identical divisions;
    # q273/q276: the raw parquet value), so the floor is bit-identical
    # by construction - the floor IS the exactness mechanism here, the
    # q319/q334 rationale class.
    "q164_min_cost_supplier",
    "q276_sql_udfs",
    "q273_python_datasource_write",
}


#: order-sensitive-fold allowlist (VERDICT r7 item 7): oracles where a
#: SUM over a FLOAT expression is ADJUDICATED order-safe, with the
#: rationale class. The hazard: SUM of doubles accumulates in engine
#: partial-agg order, so two engines (or two partitionings of the
#: same engine) can differ in the last ulps; if the result feeds an
#: exact compare after rounding, a value adjacent to a rounding
#: boundary flips. The three 1e-6-rounded-double folds this flagged
#: (q283 RBO, q286 chi2, q287 AUC) were FIXED to bigint folds in r8
#: and must never re-enter this list. Classes:
#:
#: - DOT: per-key 64-term dot product of float32-origin doubles,
#:   consumed after ROUND(..., 6). Reorder error <= ~DIM ulps
#:   (~1e-14 at O(1) magnitudes) vs the 1e-6 quantum - ~1e8x slack -
#:   and both engines fold the identical 64 doubles.
#: - CAT: category/calendar-bounded fold (<= hundreds of terms) of
#:   O(1)-magnitude LN/ratio terms, consumed after ROUND(>=1e-6):
#:   same slack argument at n <= ~1e3.
#: - INTVAL: terms are integer-VALUED doubles (FLOOR(...)*int,
#:   0/1-indicators cast to double): the double sum is exact until
#:   2^53, hence order-independent by construction.
ORDER_FOLD_ALLOW = {
    # DOT class (the shared brute-force / LSH / IVF / rerank / graph
    # cosine stages over embeddings):
    "q50_cosine_topk": "DOT",
    "q51_ann_lsh_topk": "DOT",
    "q52_vector_norms": "DOT",
    "q54_ivf_topk": "DOT",
    "q99_kmeans_assign": "DOT",
    "q156_quantized_rerank": "DOT",
    "q157_random_projection": "DOT",
    "q158_knn_graph": "DOT",
    "q184_multiprobe_ann": "DOT",
    "q209_semantic_cluster_dedup": "DOT",
    "q221_ann_recall": "DOT",
    "q225_hybrid_rrf": "DOT",
    "q257_ndcg_eval": "DOT + 10-term DCG fold (CAT)",
    "q283_rank_agreement_rbo": "DOT (ranking stage only; RBO fold is bigint since r8)",
    "q284_mmr_rerank": "DOT",
    "q289_embedding_isotropy": "DOT",
    "q299_hard_negative_mining": "DOT",
    "q303_power_iteration_pca": "DOT (64 per-dim folds per sweep)",
    "q340_knn_label_smoothing": "DOT",
    "q427_matryoshka_prefix_recall": "DOT",
    "q376_label_modularity": "DOT",
    "q382_lof_outliers": "DOT-adjacent: k=5-term reachability ratio fold, ROUND(1e-6)",
    # CAT class (bounded-cardinality LN/ratio folds):
    # (q414's SUM branches are bigint PRODUCTS ca * CAST(FLOOR(...)
    # AS BIGINT) - an exact-integer fold the branch regex cannot see;
    # order-independent by construction, not by rounding slack)
    "q414_jsd_token_mix": "CAT: bigint-weighted floored-LN fold (SUM over exact bigints)",
    "q435_theils_u_lang_source": "CAT: bigint-weighted floored-LN entropy fold (SUM over exact bigints)",
    "q108_user_entropy": "CAT: per-user event-type entropy, <=|types| terms",
    "q177_pagerank": "CAT: per-node in-degree-bounded rank fold, ROUND(1e-6)",
    "q229_source_length_kl": "CAT: |buckets|-term KL fold, ROUND(1e-6)",
    "q244_psi_drift": "CAT: |bins|-term PSI fold, ROUND(1e-6)",
    "q253_time_decay_features": "CAT: per-user exp-decay fold, ROUND(1e-6)",
    "q258_survival_curve": "CAT: per-day log-survival fold over calendar days",
    "q291_char_entropy": "CAT: <=36-symbol entropy fold per doc",
    "q292_source_transfer_matrix": "CAT: vocab-overlap LN fold, ROUND(1e-4)",
    "q310_cuped_ab_readout": "CAT: per-user halves then 1-row moments, ROUND(1e-6)",
    "q315_bradley_terry_sources": "CAT: |sources|^2-term MM fold in exact-integer-seeded ratios",
    # money class: SUM(price-expression) in TPC-H money semantics -
    # identical doubles both engines, consumed after ROUND(1e-2..1e-4)
    # with cent-grained inputs; the q327 device (cent-bigint CAST)
    # is the by-construction form used where a statistic needs
    # exactness.
    "q191_product_profit": "money: cent-grained inputs, ROUND(2)",
    # INTVAL class:
    "q389_cluster_agreement": "INTVAL: FLOOR(LN*1e6)*count products are integer-valued doubles",
    # outer CASE sums 0/1 integers; the float expression is inside
    # the COMPARISON (the shared rational sigmoid), not the summand -
    # the branch parser just can't see through the nested CASE.
    "q319_logreg_quality_gd": "INTVAL: 0/1 accuracy indicator",
}


def lint_order_fold():
    """Flag oracle SQL where SUM wraps a FLOAT expression - the
    partial-agg-order-sensitivity class (VERDICT r7 item 7). Integer
    shapes are recognized and skipped: CAST(... AS BIGINT) wrappers
    and CASE expressions whose every branch is an integer literal or
    a bigint cast. Returns {name: [inner_expr, ...]} for
    non-allowlisted hits."""
    import re

    def _paren_inner(sql, i0):
        depth, j = 0, i0
        while j < len(sql):
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        return sql[i0 + 1: j]

    int_cast = re.compile(
        r"(?is)^\s*CAST\s*\(.*AS\s+(BIG)?INT(EGER)?\s*\)\s*$"
    )
    int_branch = re.compile(
        r"(?is)^\s*(-?\d+|CAST\s*\(.*AS\s+(BIG)?INT(EGER)?\s*\))\s*$"
    )

    def _is_integer_shape(inner: str) -> bool:
        s = inner.strip()
        if int_cast.match(s):
            return True
        if re.match(r"(?is)^\s*\(?\s*CASE\b", s):
            branches = re.findall(
                r"(?is)\bTHEN\s+(.*?)(?=\s+WHEN\b|\s+ELSE\b|\s+END\b)"
                r"|\bELSE\s+(.*?)(?=\s+END\b)",
                s,
            )
            vals = [a or b for a, b in branches]
            return bool(vals) and all(int_branch.match(v) for v in vals)
        return False

    hits: dict[str, list[str]] = {}
    for name, sql in ORACLE.items():
        if sql is None or name in ORDER_FOLD_ALLOW:
            continue
        for m in re.finditer(r"\bSUM\s*\(", sql, re.I):
            inner = " ".join(_paren_inner(sql, m.end() - 1).split())
            if _is_integer_shape(inner):
                continue
            no_intdiv = inner.replace("//", "")
            if (
                "/" in no_intdiv
                or re.search(r"\d\.\d", inner)
                or "DOUBLE" in inner.upper()
                or re.search(r"\bROUND\s*\(", inner, re.I)
                or re.search(r"\b(LN|LOG2|LOG10|EXP|SQRT)\s*\(", inner, re.I)
            ):
                hits.setdefault(name, []).append(inner[:100])
    return hits


def lint_float_boundary():
    """Flag oracle SQL where floor/ceil/ceiling wraps an expression
    containing float arithmetic (a float literal, a division, or a
    DOUBLE cast) - the cross-engine representable-boundary tie class.
    Returns {name: [inner_expr, ...]} for non-allowlisted hits."""
    import re

    hits: dict[str, list[str]] = {}
    for name, sql in ORACLE.items():
        if sql is None or name in FLOAT_LINT_ALLOW:
            continue
        for m in re.finditer(r"\b(floor|ceil|ceiling)\s*\(", sql, re.I):
            i = m.end() - 1
            depth = 0
            j = i
            while j < len(sql):
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            inner = sql[m.end(): j]
            if (
                "/" in inner
                or re.search(r"\d\.\d", inner)
                or "DOUBLE" in inner.upper()
            ):
                hits.setdefault(name, []).append(
                    " ".join(inner.split())[:100]
                )
    return hits


#: DuckDB output types the driver's pandas fetch converts lossily
#: relative to Spark's: HUGEINT/unsigned -> float64 (12 -> 12.0, the
#: q230/q102 class), DECIMAL -> object/float depending on width. Any
#: oracle producing one of these will hash-desync in the driver even
#: when every value matches - oracles must CAST such columns (BIGINT
#: for integers, DOUBLE for decimals). Judge sweep r5: exactly q230 +
#: q102 hit this; both are now cast.
BAD_ORACLE_TYPES = (
    "HUGEINT",
    "UHUGEINT",
    "UBIGINT",
    "UINTEGER",
    "USMALLINT",
    "UTINYINT",
    "DECIMAL",
)


def lint_result_types(sf_dir: str = "/root/testdata/sf0.001"):
    """Bind every oracle in DuckDB and flag output columns whose type
    the driver's pandas fetch would convert lossily. Returns
    {query_name: [(col, type), ...]} for hits; empty dict = clean."""
    con = duck_connection(sf_dir)
    hits: dict[str, list[tuple[str, str]]] = {}
    for name, sql in sorted(ORACLE.items()):
        if sql is None:
            continue
        rel = con.sql(sql)  # bind only: .types comes from the plan
        bad = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t).upper().startswith(BAD_ORACLE_TYPES)
        ]
        if bad:
            hits[name] = bad
    return hits


def read_artifact(path: str) -> dict:
    """Parse the JSON object at ``path``; ``{}`` when there is no file.

    An unreadable, truncated or non-object file RAISES instead of
    reading as empty: a subset run that merged into ``{}`` would
    replace every prior row with its own handful.
    """
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        prior = json.load(fh)
    if not isinstance(prior, dict):
        raise ValueError(f"{path}: not a JSON object")
    return prior


def dump_artifact(path: str, payload: dict, sort_keys: bool = True) -> None:
    """Write ``payload`` as indented JSON to a temp file beside ``path``
    and move it into place, so an interrupted run leaves the previous
    file whole instead of truncated."""
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=sort_keys)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def merge_rows(prior: dict, records: dict) -> dict:
    """Subset runs MERGE into the prior rows (re-verify the handful of
    touched/new queries without a full-registry sweep); full runs
    replace them wholesale."""
    if len(records) < len(QUERIES):
        return {**prior, **records}
    return records


def check(spark, sf_dir: str, names: list[str]) -> tuple[dict, list]:
    """Run each named query on Spark and its oracle on DuckDB over
    ``sf_dir``, printing a PASS/FAIL line per query. Returns the
    per-query artifact rows and the names that failed."""
    con = duck_connection(sf_dir)
    failures = []
    records: dict[str, dict] = {}
    # deferred import: invariance_check imports helpers from this
    # module at its own top level, so the reverse import must not run
    # until both modules exist.
    from tools.invariance_check import body_hash, oracle_hash  # noqa: PLC0415

    def record(name, **kw):
        rec = {
            "rows_match": None,
            "schema_match": None,
            "values_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            # freshness fingerprints (ADVICE r11): a row attests
            # spark==oracle for THESE texts; the pin tests recompute
            # both at HEAD and fail on drift, so a rewritten query (or
            # a rewritten oracle twin) can never coast on a stale
            # green row.
            "body_hash": body_hash(name),
            "oracle_hash": oracle_hash(name),
        }
        rec.update(kw)
        records[name] = rec

    for name in names:
        start = time.time()
        try:
            sdf = QUERIES[name](spark, sf_dir)
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = pandas_rows(spdf)
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            record(name, err=f"spark error: {exc}")
            print(f"FAIL {name}: spark error: {exc}")
            continue
        finally:
            release_transients()
        if name not in ORACLE:
            record(
                name,
                rows_match=len(srows) >= 0,
                spark_rows=len(srows),
                err="rows-only (no oracle)",
            )
            print(f"SKIP {name}: no oracle (rows-only) rows={len(srows)}")
            continue
        try:
            dpdf = con.execute(ORACLE[name]).df()
            dcols = list(dpdf.columns)
            drows = pandas_rows(dpdf)
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            record(name, spark_rows=len(srows), err=f"duckdb error: {exc}")
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        sc, sr = frame_to_rows(scols, srows)
        dc, dr = frame_to_rows(dcols, drows)
        status = "ok"
        if sc != dc:
            status = f"COLUMN MISMATCH spark={sc} duck={dc}"
        elif len(sr) != len(dr):
            status = f"ROWCOUNT MISMATCH spark={len(sr)} duck={len(dr)}"
        elif sr != dr:
            bad = next(
                (i, a, b) for i, (a, b) in enumerate(zip(sr, dr)) if a != b
            )
            status = f"VALUE MISMATCH at sorted-row {bad[0]}:\n  spark={bad[1]}\n  duck ={bad[2]}"
        record(
            name,
            rows_match=len(sr) == len(dr),
            schema_match=sc == dc,
            values_match=status == "ok",
            spark_rows=len(sr),
            oracle_rows=len(dr),
            err=None if status == "ok" else status.splitlines()[0],
        )
        took = time.time() - start
        tag = "PASS" if status == "ok" else "FAIL"
        if tag == "FAIL":
            failures.append(name)
        print(f"{tag} {name} rows={len(sr)} ({took:.1f}s)" + (
            "" if status == "ok" else f"\n  {status}"
        ))
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    con.close()
    return records, failures


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--lint-types" in argv:
        i = argv.index("--lint-types")
        nxt = argv[i + 1] if i + 1 < len(argv) else None
        sf = nxt if nxt and not nxt.startswith("--") else "/root/testdata/sf0.001"
        hits = lint_result_types(sf)
        for name, cols in sorted(hits.items()):
            print(f"TYPELINT {name}: {cols}")
        print(f"{len(hits)} oracles with driver-lossy output types")
        return 1 if hits else 0
    if "--lint" in argv:
        hits = lint_float_boundary()
        for name, exprs in sorted(hits.items()):
            print(f"LINT {name}")
            for e in exprs:
                print(f"  floor/ceil over float expr: {e}")
        ohits = lint_order_fold()
        for name, exprs in sorted(ohits.items()):
            print(f"ORDERLINT {name}")
            for e in exprs:
                print(f"  SUM over float expr: {e}")
        print(
            f"{len(hits)} unadjudicated float-boundary hits, "
            f"{len(ohits)} unadjudicated order-sensitive folds"
        )
        return 1 if hits or ohits else 0
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:] or sorted(QUERIES)
    # read before the sweep: a corrupt artifact stops the run up front
    prior = read_artifact(json_out) if json_out else {}
    spark = get_spark(app_name="oracle-check")
    records, failures = check(spark, sf_dir, names)
    if json_out:
        records = merge_rows(prior, records)
        dump_artifact(json_out, records)
        print(f"wrote {json_out} ({len(records)} records)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
