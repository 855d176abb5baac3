"""body_hash v2 (ADVICE r11 medium): the freshness fingerprint must
see THROUGH the function AST into (a) module-level constants the body
reads - the shared F.expr formula strings whose rewrite dominated
round 11 and never moved the v1 hash - and (b) same-package helper
functions, transitively. oracle_hash fingerprints the DuckDB twin
text separately (it lives in the stripped @query decorator).
"""

from __future__ import annotations

import importlib.util
import os
import sys
import textwrap

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import invariance_check as ic  # noqa: E402


def _load_probe(tmp_path, fname, source, modname):
    path = tmp_path / fname
    path.write_text(textwrap.dedent(source))
    spec = importlib.util.spec_from_file_location(modname, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


#: the probe module name must live inside the package prefix, or the
#: helper-recursion rule would (correctly) ignore it.
_MOD = "web_scraping_etl_pipeline_spark._body_hash_probe"

_BASE = """
    K = "select {} from t"
    def helper(x):
        return K.format(x)
    def q(spark, sf_dir):
        return helper("a")
"""


def test_deterministic_and_docstring_insensitive(tmp_path, monkeypatch):
    mod = _load_probe(tmp_path, "a.py", _BASE, _MOD)
    monkeypatch.setitem(ic.QUERIES, "probe", mod.q)
    h1 = ic.body_hash("probe")
    assert h1 == ic.body_hash("probe")
    # same code + a docstring and a comment: hash must NOT move
    ic._AST_CACHE.clear()
    docd = _BASE.replace(
        'return helper("a")',
        '"""docstring"""\n        # comment\n        return helper("a")',
    ).replace(
        "def q(spark, sf_dir):\n        return",
        'def q(spark, sf_dir):\n        """doc"""\n        return',
    )
    mod2 = _load_probe(tmp_path, "b.py", docd, _MOD)
    monkeypatch.setitem(ic.QUERIES, "probe", mod2.q)
    try:
        assert ic.body_hash("probe") == h1
    finally:
        ic._AST_CACHE.clear()


def test_constant_value_is_folded(tmp_path, monkeypatch):
    mod = _load_probe(tmp_path, "a.py", _BASE, _MOD)
    monkeypatch.setitem(ic.QUERIES, "probe", mod.q)
    h1 = ic.body_hash("probe")
    # changing ONLY the module-level constant's VALUE (reached via the
    # helper, not even the query body itself) must move the hash: this
    # is exactly the r11 shared-formula rewrite class.
    monkeypatch.setattr(mod, "K", "select {} , 1 from t")
    assert ic.body_hash("probe") != h1


def test_helper_body_is_folded(tmp_path, monkeypatch):
    mod = _load_probe(tmp_path, "a.py", _BASE, _MOD)
    monkeypatch.setitem(ic.QUERIES, "probe", mod.q)
    h1 = ic.body_hash("probe")
    ic._AST_CACHE.clear()
    rewritten = _BASE.replace("K.format(x)", "K.format(x).upper()")
    mod2 = _load_probe(tmp_path, "c.py", rewritten, _MOD)
    monkeypatch.setitem(ic.QUERIES, "probe", mod2.q)
    try:
        assert ic.body_hash("probe") != h1
    finally:
        ic._AST_CACHE.clear()


def test_real_shared_constant_moves_consumer_hash(monkeypatch):
    """Non-vacuity against the REAL registry: perturbing stattests'
    shared Mann-Kendall z string moves the hash of a consumer query
    (with v1 it provably did not - ADVICE r11)."""
    from web_scraping_etl_pipeline_spark.plans import stattests

    consumers = [
        n for n, fn in ic.QUERIES.items()
        if fn.__module__.endswith("stattests")
        and "_MK_Z" in ic._normalized_node(fn)[1]
    ]
    assert consumers, "no direct _MK_Z consumer found"
    name = consumers[0]
    before = ic.body_hash(name)
    monkeypatch.setattr(stattests, "_MK_Z", stattests._MK_Z + " ")
    assert ic.body_hash(name) != before
    monkeypatch.undo()
    assert ic.body_hash(name) == before


def test_oracle_hash_sees_oracle_only_rewrites(monkeypatch):
    from web_scraping_etl_pipeline_spark.plans import ORACLE

    name = "q01_deadline_horizon"
    b, o = ic.body_hash(name), ic.oracle_hash(name)
    monkeypatch.setitem(ORACLE, name, ORACLE[name] + " -- touched")
    assert ic.oracle_hash(name) != o
    # the body hash must NOT move on an oracle-only edit (invariance
    # sweeps don't involve the oracle; only correctness rows go stale)
    assert ic.body_hash(name) == b


def test_helper_imported_inside_the_body_is_folded(monkeypatch):
    """q271/q272/q278 import the pipeline helpers inside their bodies
    (``from ..pipeline import run_batch``), so the helpers are local
    names, not module globals. A rewrite of the helper must still move
    each consumer's hash."""
    from web_scraping_etl_pipeline_spark import pipeline

    for name, helper in (
        ("q271_pipeline_silver", pipeline.run_batch),
        ("q272_pipeline_silver_bucketed", pipeline.run_batch_bucketed),
        ("q278_remaining_time_refresh", pipeline.run_batch),
    ):
        before = ic.body_hash(name)
        entry = ic._normalized_node(helper)
        key = (helper.__module__, helper.__qualname__)
        monkeypatch.setitem(
            ic._AST_CACHE, key, (entry[0] + "|rewritten", *entry[1:])
        )
        assert ic.body_hash(name) != before, name
        monkeypatch.undo()
        assert ic.body_hash(name) == before


def test_hash_is_invariant_under_runtime_cache_mutation():
    """The r12 near-miss: _STAGE_CACHE (a module-level runtime cache
    referenced by shared_stage) was briefly folded by VALUE, so a row
    stamped mid-sweep hashed differently from one stamped in a fresh
    process. Mutable containers must fold via their STATIC source
    assignment only."""
    from web_scraping_etl_pipeline_spark.plans import common

    name = "q177_pagerank"
    before = ic.body_hash(name)
    sentinel = object()
    common._STAGE_CACHE["__bh_probe__"] = sentinel
    common._TRANSIENT_PERSISTS.append(sentinel)
    try:
        assert ic.body_hash(name) == before
    finally:
        common._STAGE_CACHE.pop("__bh_probe__", None)
        common._TRANSIENT_PERSISTS.remove(sentinel)


def test_udtf_class_and_its_constants_are_folded():
    """Code-review r12: pyspark's @udtf wrapper hides the wrapped
    class behind .func with the WRAPPER's __module__, and classes
    have no __globals__ - both made q126's tokenizer class and its
    CHUNK_W constant invisible to the hash. Perturbing the constant
    (read only inside the class's eval method) must move the
    consumer's hash."""
    from web_scraping_etl_pipeline_spark.plans import udx

    before = ic.body_hash("q126_chunk_udtf")
    orig = udx.CHUNK_W
    udx.CHUNK_W = orig + 1
    try:
        assert ic.body_hash("q126_chunk_udtf") != before
    finally:
        udx.CHUNK_W = orig
    assert ic.body_hash("q126_chunk_udtf") == before


def test_aliased_container_import_resolves_original_name(
    tmp_path, monkeypatch
):
    """ADVICE r12: `from .x import K as J` recorded the import under
    the LOCAL alias J and then looked up J in the origin module, where
    the constant is defined as K - the fold silently returned None, so
    a mutable-container constant imported under an alias escaped
    body_hash. The resolver must follow the ORIGINAL name."""
    origin_name = _MOD + "_alias_origin"
    consumer_name = _MOD + "_alias_consumer"
    origin_v1 = """
    K_ZONES = ["a", "b"]
    """
    consumer_src = f"""
    from {origin_name} import K_ZONES as J

    def q(spark, sf_dir):
        return len(J)
    """
    origin = _load_probe(tmp_path, "origin1.py", origin_v1, origin_name)
    # the consumer's import statement executes for real, so the origin
    # must be importable by name
    sys.modules[origin_name] = origin
    mod = _load_probe(tmp_path, "consumer.py", consumer_src, consumer_name)
    sys.modules[consumer_name] = mod
    monkeypatch.setitem(ic.QUERIES, "probe_alias", mod.q)
    ic._ASSIGN_CACHE.clear()
    # the fold must actually resolve (the pre-fix resolver returned
    # None here and skipped silently)
    assert ic._source_assignment(consumer_name, "J") is not None
    h1 = ic.body_hash("probe_alias")
    # rewriting the ORIGIN's literal must move the consumer's hash
    ic._ASSIGN_CACHE.clear()
    sys.modules[origin_name] = _load_probe(
        tmp_path, "origin2.py", origin_v1.replace('"b"', '"b", "c"'),
        origin_name,
    )
    try:
        assert ic.body_hash("probe_alias") != h1
    finally:
        ic._ASSIGN_CACHE.clear()
        sys.modules.pop(origin_name, None)
        sys.modules.pop(consumer_name, None)


def test_sibling_scope_shadow_does_not_hide_global_read(
    tmp_path, monkeypatch
):
    """ADVICE r12: the flat loads-minus-bound walk treated a name
    assigned in ANY nested scope as bound for the whole body, so a
    genuine module-global read of that name in a sibling scope was
    dropped from the free list and its constant never folded - the
    inverse of the local-shadow case below. With per-scope symtable
    analysis the global read must fold."""
    src = """
    K = "select 1"
    def q(spark, sf_dir):
        def inner():
            K = 1
            return K
        return (inner(), K)
    """
    mod = _load_probe(tmp_path, "sib.py", src, _MOD + "_sib")
    monkeypatch.setitem(ic.QUERIES, "probe_sib", mod.q)
    assert "K" in ic._normalized_node(mod.q)[1]
    h1 = ic.body_hash("probe_sib")
    monkeypatch.setattr(mod, "K", "select 2")
    assert ic.body_hash("probe_sib") != h1


def test_local_shadow_does_not_fold_unrelated_global(tmp_path, monkeypatch):
    """A LOCAL variable sharing a module global's name must not fold
    that global: editing the unrelated global would otherwise flag
    the query stale and force spurious re-sweeps."""
    src = """
    UNRELATED = "zzz"
    def q(spark, sf_dir):
        UNRELATED = 1
        return UNRELATED + 1
    """
    mod = _load_probe(tmp_path, "shadow.py", src, _MOD + "_shadow")
    monkeypatch.setitem(ic.QUERIES, "probe_shadow", mod.q)
    h1 = ic.body_hash("probe_shadow")
    monkeypatch.setattr(mod, "UNRELATED", "changed")
    assert ic.body_hash("probe_shadow") == h1
