"""Each checker accepts the right result and rejects one with a wrong
value, a missing row or a duplicated job_link."""

import pandas as pd
import pytest

from perfbench.etl import (
    check_batches,
    check_silver,
    check_watermark,
    make_feed,
    render_remaining,
)
from perfbench.queries import compare, fingerprint

FEED = make_feed(3, 20)


def silver(now_us):
    return [
        {
            "job_link": link,
            "salary": e["salary"],
            "remaining_time": render_remaining(e["due_us"], now_us),
        }
        for link, e in FEED.expected.items()
    ]


def batch_results():
    return [
        {"skipped": True, "rows": 0}
        if b["offered"] == 0
        else {
            "skipped": False,
            "rows": b["written"],
            "metrics": {
                "rows_written": b["written"],
                "null_salary_rows": b["null_salary"],
            },
        }
        for b in FEED.per_day
    ]


def test_right_results_pass():
    assert check_silver(FEED, silver(FEED.refresh_now_us), FEED.refresh_now_us) == []
    assert check_batches(FEED, batch_results()) == []
    assert check_watermark(FEED, FEED.watermark_us) == []


def test_silver_rendered_at_batch_clocks_passes():
    from perfbench.etl import batch_now_us

    rows = [
        {
            "job_link": link,
            "salary": e["salary"],
            "remaining_time": render_remaining(e["due_us"], batch_now_us(e["day"])),
        }
        for link, e in FEED.expected.items()
    ]
    assert check_silver(FEED, rows) == []


@pytest.mark.parametrize("field", ["salary", "remaining_time"])
def test_silver_one_wrong_value_fails(field):
    rows = silver(FEED.refresh_now_us)
    victim = next(r for r in rows if r["salary"] is not None)
    victim[field] = 1.5 if field == "salary" else "Còn 99 ngày để ứng tuyển"
    assert check_silver(FEED, rows, FEED.refresh_now_us)


def test_silver_missing_row_fails():
    rows = silver(FEED.refresh_now_us)[1:]
    assert check_silver(FEED, rows, FEED.refresh_now_us)


def test_silver_duplicated_job_link_fails():
    rows = silver(FEED.refresh_now_us)
    rows.append(dict(rows[0]))
    assert check_silver(FEED, rows, FEED.refresh_now_us)


def test_batches_wrong_count_fails():
    results = batch_results()
    results[0]["rows"] += 1
    assert check_batches(FEED, results)
    results = batch_results()
    results[1]["metrics"]["null_salary_rows"] += 1
    assert check_batches(FEED, results)


def test_batches_empty_day_not_skipped_fails():
    results = batch_results()
    empty = next(i for i, b in enumerate(FEED.per_day) if b["offered"] == 0)
    results[empty] = {"skipped": False, "rows": 0}
    assert check_batches(FEED, results)


def test_wrong_watermark_fails():
    assert check_watermark(FEED, FEED.watermark_us - 1)


ORACLE = pd.DataFrame(
    {
        "job_link": ["https://x/1", "https://x/2", "https://x/3"],
        "salary": [10.0, None, 34.5],
        "n": [1, 2, 3],
    }
)


def test_query_result_equal_to_oracle_passes():
    spark = ORACLE.iloc[::-1][["n", "salary", "job_link"]].reset_index(drop=True)
    assert compare(spark, ORACLE) is None
    assert fingerprint(spark) == fingerprint(ORACLE)


def test_query_result_one_wrong_value_fails():
    spark = ORACLE.copy()
    spark.loc[2, "salary"] = 34.6
    assert compare(spark, ORACLE)
    assert fingerprint(spark) != fingerprint(ORACLE)


def test_query_result_missing_row_fails():
    spark = ORACLE.iloc[:2]
    assert compare(spark, ORACLE)
    assert fingerprint(spark) != fingerprint(ORACLE)


def test_query_result_duplicated_job_link_fails():
    spark = pd.concat([ORACLE, ORACLE.iloc[[0]]], ignore_index=True)
    assert compare(spark, ORACLE)
    assert fingerprint(spark) != fingerprint(ORACLE)


def test_empty_oracle_fails():
    assert compare(ORACLE.iloc[:0], ORACLE.iloc[:0])
