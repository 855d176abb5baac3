"""Hardening pins for the correctness INSTRUMENT itself
(tools/oracle_check.py) - VERDICT r7 item 3: a bug here silently
invalidates every green row in CORRECTNESS_*.json, so the extraction
path and the oracle-parameterization discipline get their own tests.
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

#: this checkout's root, so its own tools/ are imported
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.oracle_check import (  # noqa: E402
    frame_to_rows,
    normalize,
    pandas_rows,
)


def test_pandas_rows_unboxes_numpy_scalars():
    pdf = pd.DataFrame({"a": np.array([1, 2], dtype=np.int64)})
    rows = pandas_rows(pdf)
    assert rows == [(1,), (2,)]
    assert all(type(v) is int for (v,) in rows)


def test_pandas_rows_survives_arraytype_columns():
    # An ArrayType result column surfaces as np.ndarray cells after
    # toPandas(); .item() on those raises ValueError - the checker
    # must convert via .tolist() instead of crashing (ADVICE r6 /
    # VERDICT r7 item 3).
    pdf = pd.DataFrame(
        {
            "vec": [
                np.array([1.0, 2.0], dtype=np.float64),
                np.array([3.0], dtype=np.float64),
            ],
            "n": np.array([10, 20], dtype=np.int64),
        }
    )
    rows = pandas_rows(pdf)
    assert rows == [([1.0, 2.0], 10), ([3.0], 20)]
    assert all(type(r[0]) is list for r in rows)


def test_arraytype_roundtrip_spark_vs_duck_shape():
    # Throwaway ArrayType round-trip at the comparison layer: a DuckDB
    # LIST column (object cells of np.ndarray/list) and a Spark
    # ArrayType column (object cells of list) must normalize to EQUAL
    # rows when the values match.
    import duckdb

    dpdf = duckdb.sql(
        "SELECT * FROM (VALUES ([1, 2], 'a'), ([3], 'b')) t(vec, k)"
    ).df()
    spark_like = pd.DataFrame(
        {"vec": [[1, 2], [3]], "k": ["a", "b"]}
    )
    dc, dr = frame_to_rows(list(dpdf.columns), pandas_rows(dpdf))
    sc, sr = frame_to_rows(
        list(spark_like.columns), pandas_rows(spark_like)
    )
    assert dc == sc
    assert dr == sr


def test_normalize_folds_negative_zero_and_temporals():
    import datetime

    assert normalize(-0.0) == 0.0
    assert str(normalize(-0.0)) == "0.0"
    assert normalize(datetime.date(2024, 1, 2)) == "2024-01-02T00:00:00"
    assert normalize(None) is None
    assert normalize(float("nan")) == "NaN"


def test_no_hardcoded_query_vector_ids_in_oracles():
    # VERDICT r7 item 3b: every oracle that pins the query vector must
    # interpolate {QUERY_VEC_ID}; a literal `vec_id = 0` in SOURCE
    # silently desyncs from the Spark side if QUERY_VEC_ID changes.
    import glob

    offenders = []
    for path in glob.glob(
        os.path.join(REPO, "web_scraping_etl_pipeline_spark/plans/*.py")
    ):
        src = open(path).read()
        for m in re.finditer(r"vec_id\s*=\s*(\d+)", src):
            offenders.append((path, m.group(0)))
    assert offenders == [], offenders


def test_interrupted_dump_leaves_artifact_whole(tmp_path):
    """An artifact write that fails part-way leaves the previous file
    byte-identical and no temp file behind."""
    from tools.oracle_check import dump_artifact

    out = tmp_path / "A.json"
    dump_artifact(str(out), {"q1": {"rows": 1}})
    before = out.read_bytes()
    with pytest.raises(TypeError):
        dump_artifact(str(out), {"q1": {"rows": 2}, "q2": object()})
    assert out.read_bytes() == before
    assert os.listdir(tmp_path) == ["A.json"]


def test_restamp_selects_stale_rows_per_check():
    """With no names, each restamp check re-runs exactly the rows of its
    own artifact that are missing or carry another hash; the plan audit
    never covers streaming queries."""
    from tools import restamp
    from tools.invariance_check import body_hash, oracle_hash
    from tools.plan_audit import STREAMING
    from web_scraping_etl_pipeline_spark.plans import QUERIES

    names = sorted(QUERIES)
    fresh = {
        n: {"body_hash": body_hash(n), "oracle_hash": oracle_hash(n)}
        for n in names
    }
    stale_body = {**fresh, names[0]: {**fresh[names[0]], "body_hash": "x"}}
    stale_oracle = {**fresh, names[1]: {**fresh[names[1]], "oracle_hash": "x"}}
    missing = {n: r for n, r in fresh.items() if n != names[2]}
    stream = sorted(STREAMING & set(names))[0]
    artifacts = {
        "CORRECTNESS_SF01.json": stale_body,
        "INVARIANCE.json": {"queries": stale_oracle},
        restamp.fixtures.SWEEP: {"dup": stale_oracle},
        "PLANSHAPE.json": missing,
    }
    assert restamp.stale_names("oracle", "CORRECTNESS_SF01.json", artifacts) == [
        names[0]
    ]
    # invariance rows attest no oracle, so an oracle edit leaves them fresh
    assert restamp.stale_names("invariance", "INVARIANCE.json", artifacts) == []
    assert restamp.stale_names("fixture", "dup", artifacts) == [names[1]]
    assert restamp.stale_names("fixture", "empty", artifacts) == names
    del artifacts["PLANSHAPE.json"][stream]
    assert restamp.stale_names("plan", "PLANSHAPE.json", artifacts) == [
        names[2]
    ]
