"""Partitioning-invariance sweep: the distributed-determinism gate.

The DuckDB oracle proves VALUE correctness at one partitioning; this
tool proves the values do not DEPEND on the partitioning - the
property that actually transfers to a 1000-executor cluster, where
shuffle partition counts, input splits, and reduce-side merge orders
all differ from local[32]. The classic failure class it targets:

- ``first()``/``limit`` without a total order (partition order leaks)
- float SUM/AVG folds whose reassociation changes the rounded output
  (the engine's order-fold lint finds these statically; this sweep
  catches any that slip through dynamically)
- window/top-k tie-breaks that are only deterministic per-partition
- ``row_number`` over under-specified orderings

Method: run every ``queries()`` entry TWICE in one session - once at
``spark.sql.shuffle.partitions=4``, once at ``32`` (with AQE enabled
both times, so AQE's runtime coalescing also differs) - and require
the canonicalized row multisets (sorted columns, sorted rows, NaN/-0.0
folded, temporals ISO-ized: tools/oracle_check.py's exact machinery)
to be identical. Session-level stage caches (shared_stage, transient
persists) are cleared between variants so the second run genuinely
rebuilds its plans under the new partitioning instead of reusing
blocks cached by the first.

Every registered query must pass: by construction nothing in the
registry may use partition-dependent randomness (each query's DuckDB
twin already pins exact values), so a diff here is always a real
nondeterminism bug.

Usage: python tools/invariance_check.py [--json OUT.json] [sf_dir] [query ...]
``--json`` writes the per-query rows (the INVARIANCE.json artifact);
a subset run merges its rows into the existing file.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import os
import sys
import textwrap
import time

# repo root from this file's location, not a hardcoded path, so the
# sweep (and the regeneration instructions in test_invariance.py)
# work from any checkout (ADVICE r10 item 3)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.oracle_check import (
    dump_artifact,
    frame_to_rows,
    pandas_rows,
    read_artifact,
)
from web_scraping_etl_pipeline_spark.plans import QUERIES
from web_scraping_etl_pipeline_spark.plans.common import (
    _STAGE_CACHE,
    release_transients,
)
from web_scraping_etl_pipeline_spark.session import get_spark

#: the execution variants. 4 vs 32 shuffle partitions spans the
#: realistic local spread (on a cluster the equivalent knob is
#: executor count x spark.sql.shuffle.partitions); the third variant
#: disables AQE so runtime partition coalescing / skew-join rewrites
#: - the re-planning a real cluster does differently per run - also
#: provably cannot change any answer.
VARIANTS = (
    ("p4", {"spark.sql.shuffle.partitions": "4"}),
    ("p32", {"spark.sql.shuffle.partitions": "32"}),
    (
        "p32_noaqe",
        {
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.adaptive.enabled": "false",
        },
    ),
)

#: confs restored after each variant (the session default state).
_RESTORE = {
    "spark.sql.adaptive.enabled": "true",
}


#: package prefix whose helpers are folded into body_hash; anything
#: else (pyspark, stdlib) is environment, not query semantics.
_PKG = "web_scraping_etl_pipeline_spark"

_CONST_SCALARS = (str, int, float, bool, bytes, type(None))


def _const_repr(value, depth: int = 0):
    """Deterministic repr for IMMUTABLE module-level constants, or
    None when the value is not one. Mutable containers (dict/list/set)
    are deliberately NOT folded by runtime value - module-level caches
    (_STAGE_CACHE, _TRANSIENT_PERSISTS, ...) mutate as queries run, so
    a value-fold would make the hash depend on what already executed
    in the stamping process (the r12 q177 near-miss: its record was
    stamped mid-sweep with a non-empty stage cache). Mutable
    containers fold via their SOURCE assignment instead - see
    _module_assignments. frozensets sort by element repr so the
    output never depends on PYTHONHASHSEED."""
    if depth > 6:
        return "<depth>"
    if isinstance(value, _CONST_SCALARS):
        return repr(value)
    if isinstance(value, tuple):
        inner = [_const_repr(v, depth + 1) for v in value]
        if any(i is None for i in inner):
            return None
        return "(" + ",".join(inner) + ")"
    if isinstance(value, frozenset):
        inner = [_const_repr(v, depth + 1) for v in value]
        if any(i is None for i in inner):
            return None
        return "{" + ",".join(sorted(inner)) + "}"
    return None


_ASSIGN_CACHE: dict[str, dict] = {}


def _module_assignments(modname: str) -> dict:
    """name -> normalized AST dump of the module's top-level
    assignment VALUE expression for that name (static source, immune
    to runtime mutation), or ("import", origin_module) for names the
    module imports from elsewhere in the package. This is how mutable
    container constants (a language-marker dict, a zone-cutoff list)
    enter body_hash: a rewrite of the literal moves the hash, runtime
    .append()/cache fills do not."""
    if modname in _ASSIGN_CACHE:
        return _ASSIGN_CACHE[modname]
    out: dict = {}
    mod = sys.modules.get(modname)
    try:
        tree = ast.parse(inspect.getsource(mod))
    except (OSError, TypeError, SyntaxError, AttributeError):
        _ASSIGN_CACHE[modname] = out
        return out
    for node in tree.body:
        if isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    out[tgt.id] = ast.dump(node.value)
        elif (
            isinstance(node, ast.AnnAssign)
            and isinstance(node.target, ast.Name)
            and node.value is not None
        ):
            out[node.target.id] = ast.dump(node.value)
        elif isinstance(node, ast.ImportFrom):
            origin = _import_origin(modname, node)
            if origin is None:
                continue
            for alias in node.names:
                # record the ORIGINAL name alongside the origin: the
                # defining module assigns under alias.name, so an
                # aliased import (`from .x import K as J`) must be
                # resolved by K in the origin, not by the local J -
                # resolving by J returned None and silently skipped
                # the fold (ADVICE r12).
                out[alias.asname or alias.name] = (
                    "import", origin, alias.name,
                )
    _ASSIGN_CACHE[modname] = out
    return out


def _import_origin(modname: str, node: ast.ImportFrom) -> str | None:
    """Absolute module a ``from ... import`` in ``modname`` names, or
    None when it lies outside the package.

    A relative import resolves against the module's PACKAGE, not a
    naive modname.rsplit - for a package __init__ the two differ by
    one component and the rsplit resolved level-1 imports to the
    GRANDparent, silently skipping the fold."""
    if not node.level:
        return node.module if (node.module or "").startswith(_PKG) else None
    mod = sys.modules.get(modname)
    base = getattr(mod, "__package__", None) or modname.rsplit(".", 1)[0]
    for _ in range(node.level - 1):
        base = base.rsplit(".", 1)[0]
    return f"{base}.{node.module}" if node.module else base


def _source_assignment(modname: str, name: str, hops: int = 0):
    """Resolve (module, name) to its defining top-level assignment's
    AST dump, following package-internal import chains."""
    if hops > 8:
        return None
    entry = _module_assignments(modname).get(name)
    if isinstance(entry, tuple):
        return _source_assignment(entry[1], entry[2], hops + 1)
    return None if entry is None else (modname, entry)


_AST_CACHE: dict[tuple, tuple] = {}


def _strip_docstring(node) -> None:
    if (
        node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    ):
        node.body = node.body[1:]


def _free_globals(src: str) -> set[str]:
    """Names the code resolves in the MODULE GLOBAL scope, computed
    per-scope by the compiler's own symbol table. This replaces the
    flat loads-minus-bound AST walk, whose single bound-set spanned
    every nested scope: a name assigned inside one nested helper was
    treated as bound for the WHOLE body, so a genuine global read of
    that same name in a sibling scope never folded - a silent
    staleness false-negative (ADVICE r12). symtable tracks bindings
    per scope exactly as the compiler does (params, comprehension
    scopes, closures, `global` declarations), so a local shadow in one
    scope cannot hide a global read in another, and a closure variable
    (free-but-not-global) is still correctly excluded. Builtins come
    back as GLOBAL_IMPLICIT too; body_hash filters by membership in
    the defining module's __globals__, same as before."""
    import symtable  # noqa: PLC0415

    out: set[str] = set()
    stack = [symtable.symtable(src, "<normalized>", "exec")]
    while stack:
        t = stack.pop()
        for sym in t.get_symbols():
            if sym.is_global() and sym.is_referenced():
                out.add(sym.get_name())
        stack.extend(t.get_children())
    return out


def _normalized_node(obj):
    """(normalized ast.dump, free-name list, local imports) of a
    function/class:
    decorators and docstrings (including NESTED function/method
    docstrings) stripped, so comment / formatting / docstring /
    decorator edits do not move the hash. Free names are the names
    the body resolves in module-global scope, computed PER SCOPE via
    symtable (see _free_globals) - a local variable that happens to
    shadow an unrelated module global must not fold that global in
    (code-review r12), and a shadow in one nested scope must not hide
    a genuine global read in another (ADVICE r12). The @query
    decorator and its oracle argument are fingerprinted separately -
    see oracle_hash. Local imports are the (origin module, name)
    pairs of every in-package ``from ... import`` inside the body: a
    helper imported there is as much a callee as a module global."""
    key = (getattr(obj, "__module__", None), getattr(obj, "__qualname__", None))
    if key in _AST_CACHE:
        return _AST_CACHE[key]
    src = textwrap.dedent(inspect.getsource(obj))
    node = ast.parse(src).body[0]
    node.decorator_list = []
    _strip_docstring(node)
    for n in ast.walk(node):
        if isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            _strip_docstring(n)
    free = sorted(_free_globals(ast.unparse(node)))
    local_imports = sorted(
        (origin, alias.name)
        for n in ast.walk(node)
        if isinstance(n, ast.ImportFrom)
        and (origin := _import_origin(key[0], n)) is not None
        for alias in n.names
    )
    out = (ast.dump(node), free, local_imports)
    _AST_CACHE[key] = out
    return out


def _package_callable(val):
    """The same-package function/class behind ``val``, unwrapping one
    level of wrapper objects (pyspark's @udtf/@pandas_udf wrappers
    carry the wrapped class/function at .func with the WRAPPER's
    __module__ being pyspark's - code-review r12), or None."""
    for cand in (val, getattr(val, "func", None),
                 getattr(val, "__wrapped__", None)):
        if cand is not None and callable(cand) and str(
            getattr(cand, "__module__", "")
        ).startswith(_PKG):
            return cand
    return None


def body_hash(name: str) -> str:
    """Stable fingerprint of a query's NORMALIZED semantics: the
    function's own AST (docstring + decorators stripped) PLUS, via the
    body's free names resolved against the defining module, (a) the
    VALUES of module-level constants it reads - the shared F.expr
    formula strings (_MK_Z, _KW_H, ...) that ADVICE r11 flagged as
    invisible to the pure-AST hash - and (b) the normalized ASTs of
    same-package helper functions/classes it calls, transitively, so a
    rewrite of a shared helper marks every consumer stale. Comment /
    formatting / docstring edits do not move it; any code or
    shared-constant change does. Recorded per query in
    INVARIANCE.json / PLANSHAPE.json / the correctness + degenerate
    sweeps so each freshness pin fails on a REWRITTEN query whose
    recorded row predates the rewrite."""
    parts: list[str] = []
    seen: set[tuple] = set()
    stack = [QUERIES[name]]
    while stack:
        obj = stack.pop()
        key = (
            getattr(obj, "__module__", None),
            getattr(obj, "__qualname__", repr(obj)),
        )
        if key in seen:
            continue
        seen.add(key)
        try:
            dump, free, local_imports = _normalized_node(obj)
        except (OSError, TypeError, SyntaxError):
            continue  # builtins / C-level: environment, not semantics
        parts.append(f"{key[0]}|{key[1]}|{dump}")
        if inspect.isclass(obj):
            # classes have no __globals__, so their methods' constant
            # reads would never fold; push the function members (their
            # __globals__ is the defining module's) - code-review r12.
            for member in vars(obj).values():
                if inspect.isfunction(member):
                    stack.append(member)
        g = getattr(obj, "__globals__", None) or {}
        names = [(key[0], nm, g[nm]) for nm in free if nm in g]
        for origin, nm in local_imports:
            try:
                mod = importlib.import_module(origin)
            except ImportError:
                continue
            if hasattr(mod, nm):
                names.append((origin, nm, getattr(mod, nm)))
        for modname, nm, val in names:
            rep = _const_repr(val)
            if rep is not None:
                parts.append(f"{modname}|${nm}|{rep}")
                continue
            if isinstance(val, (dict, list, set)):
                # mutable container: fold the STATIC source assignment
                # (never the runtime value - caches mutate mid-sweep)
                src = _source_assignment(modname, nm)
                if src is not None:
                    parts.append(f"{src[0]}|@{nm}|{src[1]}")
                continue
            target = _package_callable(val)
            if target is not None:
                stack.append(target)
    parts.sort()
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def oracle_hash(name: str) -> str:
    """Fingerprint of the query's DuckDB twin TEXT (post f-string
    interpolation, so shared-formula constants are already folded in).
    The oracle lives in the @query decorator, which body_hash strips -
    an oracle-only rewrite must still mark correctness rows stale,
    because those rows attest spark==oracle, not spark alone."""
    from web_scraping_etl_pipeline_spark.plans import ORACLE  # noqa: PLC0415

    sql = ORACLE.get(name)
    return hashlib.sha256(
        (sql if isinstance(sql, str) else "<rows-only>").encode()
    ).hexdigest()[:16]


def _clear_session_caches() -> None:
    """Drop cross-query cached stages so each variant rebuilds them
    under its own partitioning (a cached block built at 4 partitions
    reused by the 32-partition run would make the check vacuous for
    every consumer of that stage)."""
    release_transients()
    for df in _STAGE_CACHE.values():
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 - already released
            pass
    _STAGE_CACHE.clear()


def run_variant(spark, name, sf_dir, confs):
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        pdf = QUERIES[name](spark, sf_dir).toPandas()
    finally:
        release_transients()
        for key, value in _RESTORE.items():
            spark.conf.set(key, value)
    return frame_to_rows(list(pdf.columns), pandas_rows(pdf))


def write_artifact(json_out: str, sf_dir: str, records: dict) -> None:
    """Write the sweep's rows to ``json_out``.

    Subset runs MERGE into an existing artifact (per-row refresh after
    a targeted rewrite: `--json INVARIANCE.json sf_dir q123_foo`
    re-sweeps one query without the ~25-min full run) and keep its
    header, so a one-query refresh at another SF cannot relabel every
    prior row; each row records the ``sf_dir`` it was swept at. Full
    runs replace the artifact wholesale.
    """
    header = {"sf_dir": sf_dir, "variants": [v for v, _ in VARIANTS]}
    for rec in records.values():
        rec["sf_dir"] = sf_dir
    if len(records) < len(QUERIES):
        prior = read_artifact(json_out)
        header.update({k: prior[k] for k in header if k in prior})
        records = {**prior.get("queries", {}), **records}
    dump_artifact(json_out, {**header, "queries": records}, sort_keys=False)


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    names = argv[1:] or sorted(QUERIES)
    spark = get_spark(app_name="invariance-check")
    records, failures = sweep(spark, sf_dir, names)
    if json_out:
        write_artifact(json_out, sf_dir, records)
    spark.stop()
    return 1 if failures else 0


def sweep(spark, sf_dir: str, names: list[str]) -> tuple[dict, list]:
    """Run each named query under every variant, printing a PASS/FAIL
    line per query. Returns the per-query artifact rows and the names
    that failed."""
    records: dict[str, dict] = {}
    failures = []
    for name in names:
        start = time.time()
        rec: dict = {"match": None, "rows": None, "err": None}
        try:
            results = []
            for _tag, confs in VARIANTS:
                _clear_session_caches()
                results.append(run_variant(spark, name, sf_dir, confs))
            (c1, r1) = results[0]
            rec["rows"] = len(r1)
            rec["match"] = all(
                (c1 == c) and (r1 == r) for c, r in results[1:]
            )
            if not rec["match"]:
                failures.append(name)
                for (tag, _), (c, r) in zip(VARIANTS[1:], results[1:]):
                    if (c1, r1) == (c, r):
                        continue
                    diff = next(
                        (i for i, (a, b) in enumerate(zip(r1, r)) if a != b),
                        None,
                    )
                    print(
                        f"FAIL {name} vs {tag}: cols {c1 == c} "
                        f"rows {len(r1)}/{len(r)}"
                    )
                    if diff is not None:
                        print(
                            f"  first diff row {diff}:\n"
                            f"   {VARIANTS[0][0]}  {r1[diff]}\n"
                            f"   {tag} {r[diff]}"
                        )
            else:
                print(
                    f"PASS {name} rows={len(r1)} "
                    f"({time.time() - start:.1f}s)"
                )
        except Exception as exc:  # noqa: BLE001
            rec["err"] = str(exc)[:300]
            failures.append(name)
            print(f"FAIL {name}: error: {rec['err']}")
        # fingerprint of the code that PRODUCED this row: the
        # freshness pin recomputes it at HEAD and fails on drift
        rec["body_hash"] = body_hash(name)
        records[name] = rec
    print(f"\n{len(names) - len(failures)}/{len(names)} partition-invariant")
    return records, failures


if __name__ == "__main__":
    sys.exit(main())
