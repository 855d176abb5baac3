"""The nine degenerate star-schema fixtures and their oracle sweep.

Each fixture rebuilds the template star schema table by table through
one per-table SELECT: the empty, partial, duplicated and unusual
inputs a scraper can hand the clean and transform stages (SURVEY C6:
a sentinel salary becomes NULL). Every registered query is checked
against its DuckDB oracle on every fixture; the rows live in
DEGENERATE_SWEEP.json as ``{fixture: {query: row}}`` and each
fixture's ledger lives in tests/test_degenerate_sweep.py.

    python tools/fixtures.py NAME [query ...]

builds fixture NAME into a fresh temporary directory, runs
tools/oracle_check.py's check over it (every registered query when
none is named; named queries merge into the section), writes the rows
to section NAME and removes the directory. Sweep one fixture per
process: ``shared_stage`` caches on (appId, sf_dir, name), so a second
fixture built at a reused path would be served the first one's cached
stages.

Every fixture keeps the seed-row rule its committed sweep rows were
produced with: scan-order ``LIMIT`` (empty, 1row), ``ORDER BY ALL``
(dup, const, text) or the ``ORDER_KEY`` row number (null, allnull,
extreme, signcancel).
"""

from __future__ import annotations

import glob
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP = os.path.join(REPO, "DEGENERATE_SWEEP.json")
TEMPLATE = "/root/testdata/sf0.001"

#: seed rows per table. 32 is large enough that pair fan-out
#: (n*(n-1)/2 = 496 candidate pairs from one 32-member bucket) and
#: zero-variance moments with real df are exercised, small enough
#: that the n x n key-join fan-out (32x32 per key) of the
#: all-duplicates corpus keeps the full sweep fast.
N = 32

#: the row number that pins a seed row. lineitem's key is NOT unique
#: (tied (l_orderkey, l_linenumber) pairs fall inside the first 32),
#: so which tied row gets which pattern follows DuckDB's tie order;
#: tests/test_degenerate_sweep.py pins the built content.
ORDER_KEY = {
    "customer": "c_custkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
    "lineitem": "l_orderkey, l_linenumber",
    "nation": "n_nationkey",
    "orders": "o_orderkey",
    "part": "p_partkey",
    "region": "r_regionkey",
    "supplier": "s_suppkey",
}


def _pinned(src: str, table: str, cols, replace) -> str:
    """The first N rows by ORDER_KEY, numbered 0.. as ``_rn``, with
    each column ``c`` of DESCRIBE type ``t`` written as
    ``replace(c, t)`` (None keeps it)."""
    exprs = []
    for c, t in cols:
        e = replace(c, t)
        exprs.append(c if e is None else f"{e} AS {c}")
    return f"""
    WITH src AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY {ORDER_KEY[table]}) - 1 AS _rn
      FROM {src}
      QUALIFY _rn < {N}
    )
    SELECT {', '.join(exprs)} FROM src
    """


# -- empty (0 rows) and 1row: every table, correct schema, LIMIT n rows
# of the template - the totality census's first two depths.


def _first(n: int):
    return lambda src, table, cols: f"SELECT * FROM {src} LIMIT {n}"


# -- dup / const: the all-duplicates census layer the 0-row and 1-row
# corpora cannot reach.
#
# dup: every table is its template's FIRST ROW replicated N times,
# byte-identical (keys included, so it violates the star schema's key
# contract). Stresses the paths where EVERY pair is a dedup candidate
# (LSH bucket fan-out and its cap, pair joins, component collapse),
# key-join fan-out (N x N), and ROUND/ordering ties from identical
# values. ORDER BY ALL pins the seed row: a bare LIMIT is scan-order
# dependent, and a rebuilt fixture must reproduce the committed sweep.
#
# const: the template's first N rows with every NON-KEY column
# overwritten by the first row's value (key-ish columns - *key / *id /
# l_linenumber - keep their real values). Stresses zero-variance-with-
# n>1 statistics (the 1-row census only reached n<=1 degenerate
# moments) and identical-value ties under DISTINCT keys, without the
# join fan-out masking them.

_KEYISH = re.compile(r"(key|id|linenumber)$", re.IGNORECASE)


def _dup(src, table, cols):
    return (
        f"SELECT t.* FROM (SELECT * FROM {src} "
        f"ORDER BY ALL LIMIT 1) t, range({N})"
    )


def _const(src, table, cols):
    exprs = ", ".join(
        f'"{c}"'
        if _KEYISH.search(c)
        else (
            f'(SELECT "{c}" FROM (SELECT * FROM {src} '
            f'ORDER BY ALL LIMIT 1)) AS "{c}"'
        )
        for c, _ in cols
    )
    return f"SELECT {exprs} FROM {src} ORDER BY ALL LIMIT {N}"


# -- extreme: the value-bearing columns replaced by representation-
# boundary extremes, keys and join structure left in contract so
# every relational shape still executes.
#
# - doubles (acctbal/quantity/price/discount/tax/value/retailprice):
#   +-0.0, the smallest subnormal (5e-324), the smallest normal
#   (2.225e-308), machine epsilon and 1+eps, 0.1 (inexact binary),
#   2^53 and 2^53+1 (the integer-precision boundary - 2^53+1 IS 2^53
#   as a double), +-1e12 (big-vs-small mixtures whose low bits vanish
#   below the running sum's ulp). Targets: guard/NULLIF parity on
#   near-zero denominators, ROUND half-even vs half-away at boundary
#   magnitudes, float-fold reassociation, int-cast overflow paths.
# - int32 (p_size): INT_MIN, INT_MAX, -1, 0 - widening and sign
#   handling in size arithmetic.
# - bigint (events.user_id - a group/session key with no FK): +-2^63
#   boundaries and 2^62ish values - hash/modulo/bucket formulas on
#   negative and near-overflow keys (pmod-vs-% class).
# - timestamps (ts/l_shipdate/o_orderdate): microsecond edges on BOTH
#   sides of the Unix epoch (negative-epoch FLOOR-vs-truncating-div
#   class), a leap day, and 1969->2000 so min..max day spines stay
#   ~11k rows (day-spine queries generate sequence(min, max)).
# - strings (c_name/s_name/p_name/event_type): 2-4 KB ASCII and
#   multibyte values - long group/sort keys, NOT documents.text (the
#   text fixture owns tokenizer shapes, and pairwise-DP verifiers are
#   quadratic in text length).
# - embeddings: exact float32 extremes (see F32).

#: NOTE 9007199254740993.0 (2^53 + 1) rounds to 2^53 at parse time on
#: every IEEE-754 platform - both engines see the identical double;
#: the BOUNDARY is what matters.
DOUBLES = [
    0.0,
    -0.0,
    5e-324,
    2.2250738585072014e-308,
    2.220446049250313e-16,
    1.0 + 2.220446049250313e-16,
    -1.0,
    0.1,
    9007199254740992.0,
    9007199254740993.0,
    1e12,
    -1e12,
    123456789.123456,
    -5e-324,
]

INTS32 = [2147483647, -2147483648, -1, 0, 1, 2147483646, -2147483647, 42]

BIGINTS = [
    9223372036854775807,
    -9223372036854775808,
    9223372036854775806,
    -9223372036854775807,
    4611686018427387904,
    -4611686018427387904,
    -1,
    0,
    1,
    2862933555777941757,
]

#: microsecond-edge timestamps on both sides of the epoch + a leap
#: day; span kept ~30 years so sequence(min_day, max_day) spines stay
#: bounded (~11.2k rows).
TIMESTAMPS = [
    "1969-06-30 23:59:59.999999",
    "1969-12-31 23:59:59.999999",
    "1970-01-01 00:00:00",
    "1970-01-01 00:00:00.000001",
    "1999-12-31 23:59:59.999999",
    "2000-02-29 12:34:56.789012",
]

#: long group/sort keys: 2-4 KB, ASCII and multibyte.
LONG_STRINGS = [
    "k" * 4096,
    ("Hồ Chí Minh " * 200).strip(),  # ~2.4k chars, multibyte
    "z" * 2048 + " tail",
    ("😀" * 512) + "x",
]

#: ASCII-only variant for part.p_name: q11's clean_title oracle is
#: documented ASCII-domain (DuckDB RE2 has no (?U) - its \w stops at
#: the first non-ASCII word char while the Java/engine side matches
#: Unicode; the engine's Unicode behavior is reference-correct and
#: pinned by the golden tests, so the fixture must not feed the
#: ORACLE's known blind spot). Length extremes preserved.
LONG_STRINGS_ASCII = [
    "k" * 4096,
    ("data engineering platform " * 96).strip(),
    "z" * 2048 + " tail",
    ("hyphenated-name-segment " * 100).strip(),
]

#: exact float32 values. The magnitude extreme is +-4.0 (~8x the
#: template's unit-scale max): the micro-lattice devices
#: (FLOOR(v * 1e6) AS BIGINT) feed 64-dim squared sums, pair
#: differences (q334: single (y_a - y_b)^2 with |y| <= 64 * qi), and
#: cluster moments (q386-q388: n_c * q_c with q_c <= n_c * 64 *
#: qi^2), so the bigint-exact domain requires
#: n^2 * 64 * qi^2 <= 2^63 -> qi <= ~1.2e7 -> |v| <= ~12 on a
#: 32-row corpus; 4.0 stays inside with margin while the
#: subnormal / epsilon / +-0.0 / 1+eps values stress representation.
F32 = [
    0.0,
    -0.0,
    1e-45,
    -1e-45,
    1.1920928955078125e-07,
    1.0000001192092896,
    4.0,
    -4.0,
    0.1,
    -1.0,
]

_LITERAL = {
    "double": lambda v: f"CAST({v!r} AS DOUBLE)",
    "int": lambda v: f"CAST({v} AS INTEGER)",
    "bigint": lambda v: f"CAST({v} AS BIGINT)",
    "ts": lambda v: f"TIMESTAMP '{v}'",
}

#: table -> {column -> (values, kind)}
REPLACEMENTS = {
    "customer": {"c_acctbal": (DOUBLES, "double")},
    "supplier": {"s_acctbal": (DOUBLES, "double")},
    "part": {
        "p_size": (INTS32, "int"),
        "p_retailprice": (DOUBLES, "double"),
    },
    "orders": {
        "o_totalprice": (DOUBLES, "double"),
        "o_orderdate": (TIMESTAMPS, "ts"),
    },
    "lineitem": {
        "l_quantity": (DOUBLES, "double"),
        "l_extendedprice": (DOUBLES, "double"),
        "l_discount": (DOUBLES, "double"),
        "l_tax": (DOUBLES, "double"),
        "l_shipdate": (TIMESTAMPS, "ts"),
    },
    "events": {
        "ts": (TIMESTAMPS, "ts"),
        "user_id": (BIGINTS, "bigint"),
        "value": (DOUBLES, "double"),
    },
}

#: per-column offset into the cycle so same-table columns sharing a
#: value list do not move in lockstep (l_discount == l_tax on every
#: row would under-test the formulas).
OFFSETS = {
    "l_extendedprice": 3,
    "l_discount": 5,
    "l_tax": 7,
    "o_totalprice": 2,
    "p_retailprice": 4,
    "value": 6,
    "s_acctbal": 1,
    "o_orderdate": 3,
    "l_shipdate": 1,
}

#: string columns replaced only on every 4th row (the rest keep the
#: template value so cardinality-sensitive shapes still see variety).
STRING_COLS = {
    "customer": "c_name",
    "supplier": "s_name",
    "part": "p_name",
    "events": "event_type",
}


def _extreme(src, table, cols):
    repl = REPLACEMENTS.get(table, {})

    def replace(c, _t):
        if table == "embeddings" and c == "embedding":
            # per-dimension cycle de-phased by row: dim d of row i
            # reads F32[(i * 7 + d) % |F32|]
            arms = " ".join(
                f"WHEN {i} THEN CAST({v!r} AS FLOAT)"
                for i, v in enumerate(F32)
            )
            return (
                "list_transform(range(0, len(embedding)), "
                f"d -> CASE ((_rn * 7 + d) % {len(F32)}) {arms} END)"
            )
        if c in repl:
            vals, kind = repl[c]
            arms = " ".join(
                f"WHEN {i} THEN {_LITERAL[kind](v)}"
                for i, v in enumerate(vals)
            )
            off = OFFSETS.get(c, 0)
            return f"CASE ((_rn + {off}) % {len(vals)}) {arms} END"
        if c == STRING_COLS.get(table):
            longs = "longs_ascii" if table == "part" else "longs"
            return (
                f"CASE WHEN _rn % 4 = 0 THEN (SELECT s FROM {longs}"
                f" WHERE i = (_rn // 4) % {len(LONG_STRINGS)})"
                f" ELSE {c} END"
            )
        return None

    return _pinned(src, table, cols, replace)


# -- null / allnull: PARTIAL RECORDS - NULLs cycled through the
# OPTIONAL columns, the "scraper emitted an incomplete record" corpus
# (the reference's own C6 maps a sentinel salary to NULL; a failed
# extraction yields a NULL text / value / label the pipeline must
# survive, not crash on).
#
# NULLABLE: free-text and content columns (documents.text + its
# DERIVED n_chars - NULL text => NULL n_chars), categorical dimensions,
# numeric measures, embeddings.label (weak labels go missing in the
# wild). NEVER NULL: every key / join column (a keyless record is
# garbage-in, rejected upstream), timestamps (a scraped record always
# carries its scrape time; a NULL event time would also make the
# streaming-vs-batch comparison definitionally divergent - the extreme
# fixture owns the watermark class), and embeddings.embedding (a NULL
# vector is not a vector).
#
# Column c of row r is NULL when (r + its index in OPTIONAL) % every
# == 0. null (every=3): ~1/3 of each optional column is NULL, NULL
# rows differ per column (a row keeps SOME fields) and every column
# keeps non-null rows. allnull (every=1), the totality endpoint:
# EVERY optional value NULL while every key/timestamp survives, so
# every GROUP EXISTS while every measure aggregated over it is an
# all-NULL column - SUM/AVG/MIN/MAX NULL per group (not zero, not
# absent), COUNT(col) = 0 under COUNT(*) = n, listwise deletion
# emptying frames that stay non-empty. Known cross-engine traps live
# here (string_agg all-NULL -> NULL vs array_join -> ''; pandas .sum()
# over all-NaN -> 0.0 vs SQL SUM -> NULL).

#: table -> optional (nullable) columns, in schema order. Keys,
#: timestamps and the embedding vector are deliberately absent;
#: nation.n_name is a graph node identity and region.r_name keys
#: region filters.
OPTIONAL = {
    "customer": ["c_name", "c_acctbal", "c_mktsegment"],
    "documents": ["text", "lang", "source"],
    "embeddings": ["label"],
    "events": ["event_type", "value", "props"],
    "lineitem": [
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus",
    ],
    "orders": ["o_orderstatus", "o_totalprice", "o_orderpriority"],
    "part": ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "supplier": ["s_name", "s_acctbal"],
}


def _nulls(every: int):
    def select(src, table, cols):
        opt = OPTIONAL.get(table, [])

        def replace(c, _t):
            # n_chars is derived: it goes NULL with text (offset 0) so
            # n_chars = length(text) holds through the nulling
            if table == "documents" and c == "n_chars":
                off = 0
            elif c in opt:
                off = opt.index(c)
            else:
                return None
            return (
                f"CASE WHEN (_rn + {off}) % {every} = 0 THEN NULL"
                f" ELSE {c} END"
            )

        return _pinned(src, table, cols, replace)

    return select


# -- signcancel: SIGN CANCELLATION - every numeric MEASURE overwritten
# by an alternating +-M (same exact magnitude, sign by row parity);
# keys / timestamps / categoricals / strings in contract.
#
# It reaches aggregates that are EXACTLY ZERO from nonzero inputs: the
# const fixture gives zero VARIANCE with a nonzero mean, here every
# even-cardinality group has SUM(x) == AVG(x) == 0 while n > 0 and
# variance > 0 - the refunds-cancel-sales corpus a revenue pipeline
# genuinely sees. Division guards written for "empty or all-zero"
# denominators do not fire; the hot paths are shares x / SUM(x) with a
# zero total, coefficient-of-variation / mean normalizations, LN /
# SQRT / power of a zero or negative aggregate, weighted means whose
# weights cancel, and sign-sensitive folds (truncate-vs-floor on a
# negative running sum). The 32-row global sum of every overwritten
# column is exactly 0; odd groups keep a +-M residue (the negative-sum
# paths).
#
# The magnitude is an exact INTEGER-VALUED double (2.0) so every
# partial sum is IEEE-exact and cancellation is bit-perfect in any
# fold order, AND casts to integer types agree across engines. 2.5 was
# tried and rejected: CAST(2.5 AS BIGINT) ROUNDS in DuckDB but
# TRUNCATES in Spark (the adjudicated q387 class). p_size (int32) uses
# +-4.

#: table -> measure column -> magnitude. documents/embeddings keep
#: their template values (the text/vector families own their own
#: degenerate fixtures; n_chars must stay == length(text)).
MEASURES = {
    "customer": {"c_acctbal": "2.0"},
    "events": {"value": "2.0"},
    "lineitem": {
        "l_quantity": "2.0",
        "l_extendedprice": "2.0",
        "l_discount": "2.0",
        "l_tax": "2.0",
    },
    "orders": {"o_totalprice": "2.0"},
    "part": {"p_retailprice": "2.0", "p_size": "4"},
    "supplier": {"s_acctbal": "2.0"},
}


def _signcancel(src, table, cols):
    meas = MEASURES.get(table, {})

    def replace(c, ctype):
        if c not in meas:
            return None
        # cast back to the column's declared type so parquet schemas -
        # and Spark/DuckDB type derivations - match the real corpus
        m = meas[c]
        return f"CAST(CASE WHEN _rn % 2 = 0 THEN {m} ELSE -{m} END AS {ctype})"

    return _pinned(src, table, cols, replace)


# -- text: ADVERSARIAL TEXT - the first N template rows, unchanged
# EXCEPT documents.text, which cycles through pathological-but-IN-
# CONTRACT strings (any string is a valid scraped document), with
# n_chars kept = length of the new text. Text-derived operators
# (tokenizers, shinglers, n-gram models, language-ID, quality scores,
# entropy, BPE) share regex/split semantics that ONLY these shapes
# exercise - the real corpus never holds an empty or whitespace-only
# document (one engine's split('') yields [''], another's []).

#: kept SHORT (longest ~60 chars) so pair fan-outs stay trivial; every
#: entry is a string a scraper could genuinely emit.
PATHOLOGICAL_TEXTS = [
    "",
    " ",
    "\t \n",
    "a",
    "!!! ??? ... ;;;",
    "12345 67890",
    "the the the the the the the the",
    "Hồ Chí Minh ở đây có dấu",
    "x y z w v u t s r q p o n m l k j i h g f e d c b a",
    "  leading and   trailing   spaces  ",
    "one-token",
    "mixed CASE Tokens MIXED case tokens",
]


def _text(src, table, cols):
    if table != "documents":
        return f"SELECT * FROM {src} ORDER BY ALL LIMIT {N}"
    # QUALIFY on the windowed row number, never a bare LIMIT: a
    # nondeterministic kept-set could silently drop the pathological
    # texts the fixture exists for, and the sweep would go green
    # vacuously. text and n_chars move to the end of the schema, as in
    # the fixture the committed rows were swept on.
    return f"""
    WITH src AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS _rn
      FROM {src}
      QUALIFY _rn < {N}
    )
    SELECT src.* EXCLUDE (text, n_chars, _rn),
           pat.t AS text,
           CAST(length(pat.t) AS BIGINT) AS n_chars
    FROM src JOIN pat
      ON pat.i = src._rn % {len(PATHOLOGICAL_TEXTS)}
    """


#: fixture name -> per-table SELECT(src, table, [(column, type)]).
FIXTURES = {
    "empty": _first(0),
    "1row": _first(1),
    "dup": _dup,
    "const": _const,
    "extreme": _extreme,
    "null": _nulls(3),
    "allnull": _nulls(1),
    "signcancel": _signcancel,
    "text": _text,
}


def build(name: str, out_dir: str) -> None:
    """Write fixture ``name``'s tables into ``out_dir``."""
    import duckdb
    import pandas as pd

    select = FIXTURES[name]
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    # registered frames, not SQL literals: control characters (tab /
    # newline) must arrive VERBATIM
    for view, col, values in (
        ("pat", "t", PATHOLOGICAL_TEXTS),
        ("longs", "s", LONG_STRINGS),
        ("longs_ascii", "s", LONG_STRINGS_ASCII),
    ):
        con.register(
            view, pd.DataFrame({"i": range(len(values)), col: values})
        )
    for path in sorted(glob.glob(os.path.join(TEMPLATE, "*.parquet"))):
        file = os.path.basename(path)
        src = f"read_parquet('{path}')"
        cols = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
        sql = select(src, file.removesuffix(".parquet"), [c[:2] for c in cols])
        con.execute(
            f"COPY ({sql}) TO '{os.path.join(out_dir, file)}' (FORMAT PARQUET)"
        )
    con.close()


def sweep(name: str, names: list[str]) -> tuple[dict, list]:
    """Build fixture ``name`` into a fresh temporary directory and run
    tools/oracle_check.py's check of ``names`` over it in a new Spark
    session. Returns the rows and the names that failed."""
    sys.path.insert(0, REPO)
    from tools.oracle_check import check
    from web_scraping_etl_pipeline_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix=f"sf_{name}_") as sf_dir:
        build(name, sf_dir)
        spark = get_spark(app_name="oracle-check")
        try:
            return check(spark, sf_dir, names)
        finally:
            spark.stop()


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in FIXTURES:
        choices = "|".join(FIXTURES)
        raise SystemExit(
            f"usage: python tools/fixtures.py {{{choices}}} [query ...]"
        )
    sys.path.insert(0, REPO)
    from tools.oracle_check import dump_artifact, merge_rows, read_artifact
    from web_scraping_etl_pipeline_spark.plans import QUERIES

    name, names = argv[0], argv[1:] or sorted(QUERIES)
    # read before the sweep: a corrupt artifact stops the run up front
    sweep_rows = read_artifact(SWEEP)
    records, failures = sweep(name, names)
    sweep_rows[name] = merge_rows(sweep_rows.get(name, {}), records)
    dump_artifact(SWEEP, sweep_rows)
    print(f"wrote {SWEEP} [{name}] ({len(sweep_rows[name])} records)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
