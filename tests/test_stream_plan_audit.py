"""Streaming plan audit (r6-verdict item 7).

``tools/plan_audit.py`` skips the STREAMING set because *building*
those DataFrames executes a real availableNow drain. That left the
stream-side physical plans - state-store operator placement, broadcast
of the static dim in q176, the no-row-Python-UDF policy - without the
regression gate the batch plans have. ``_run_to_sink`` now captures
each terminated drain's executed plan (``explainInternal(True)`` on
``lastExecution``) into ``STREAM_PLANS``; this suite drains each
streaming query once at sf0.001 and audits that captured plan.
"""

from __future__ import annotations

import pytest

from web_scraping_etl_pipeline_spark.plans import QUERIES
from web_scraping_etl_pipeline_spark.plans.common import release_transients
from web_scraping_etl_pipeline_spark.streaming.events_stream import (
    STREAM_PLANS,
)

from tests.conftest import SF_DIR

#: query -> (drain tag, operators the executed stream plan MUST show).
#: The required-operator pins are the scale-relevant plan properties:
#: the right stateful operator (state sharded per shuffle partition),
#: StreamingSymmetricHashJoin for stream-stream joins (never a static
#: join over a drained snapshot), BroadcastHashJoin for the static dim
#: in q176 (the dim must not shuffle the stream).
_CASES = {
    "q34_stream_passthrough": ("q34", []),
    "q35_stream_daily_finalized": ("q35", ["StateStoreSave"]),
    "q37_stateful_user_profiles": ("q37", ["FlatMapGroupsInPandasWithState"]),
    "q71_stream_sliding_finalized": ("q71", ["StateStoreSave"]),
    "q115_stream_stream_join": ("q115", ["StreamingSymmetricHashJoin"]),
    "q145_stream_dedup": ("q145", ["StreamingDeduplicate"]),
    "q176_stream_static_join": ("q176", ["BroadcastHashJoin"]),
    "q206_stream_lsh_neardup": ("q206", ["BroadcastHashJoin"]),
    "q212_stream_session_finalized": ("q212", ["StateStoreSave"]),
    "q217_stream_source_quota": ("q217", ["FlatMapGroupsInPandasWithState"]),
    "q223_stream_stream_left_outer": ("q223", ["StreamingSymmetricHashJoin"]),
    "q232_stream_stream_full_outer": ("q232", ["StreamingSymmetricHashJoin"]),
    "q262_stream_join_then_window": (
        "q262",
        ["StreamingSymmetricHashJoin", "StateStoreSave"],
    ),
    "q265_stateful_timeout_sessions": (
        "q265",
        ["FlatMapGroupsInPandasWithState"],
    ),
}

#: physical operators banned from every streaming plan - identical
#: policy to the batch audit: no all-pairs joins, no row-at-a-time
#: Python evaluation (Arrow-batched pandas operators are fine and are
#: NOT matched by "BatchEvalPython").
_BANNED = ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"]


def test_stream_plan_q249_transform_with_state(spark):
    """q249 also drains through _run_to_sink (tag q249) but is
    env-gated on transformWithState availability - audited here with
    the same banned/required gate when the runtime supports it."""
    from web_scraping_etl_pipeline_spark.streaming.events_stream import (
        _tws_available,
    )

    if not _tws_available():
        pytest.skip("transformWithState not available in this runtime")
    try:
        QUERIES["q249_transform_with_state"](spark, SF_DIR)
    finally:
        release_transients()
    plan = STREAM_PLANS.get("q249")
    assert plan, "q249: no captured stream plan"
    for op in _BANNED:
        assert op not in plan, f"q249: banned operator {op}"
    assert "TransformWithState" in plan


@pytest.mark.parametrize("name", sorted(_CASES))
def test_stream_plan(spark, name):
    tag, required = _CASES[name]
    try:
        QUERIES[name](spark, SF_DIR)
    finally:
        release_transients()
    plan = STREAM_PLANS.get(tag)
    assert plan, f"{name}: no captured stream plan under tag {tag}"
    for op in _BANNED:
        assert op not in plan, f"{name}: banned operator {op} in stream plan"
    for op in required:
        assert op in plan, f"{name}: expected {op} in stream plan"
