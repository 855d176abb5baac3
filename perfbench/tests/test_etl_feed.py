"""The jobs_etl generator's bookkeeping, on a tiny seed."""

from perfbench.etl import (
    EMPTY_DAY,
    EXPIRED_TEXT,
    make_feed,
    render_remaining,
)

ROWS = 20


def test_same_seed_same_feed_other_seed_other_feed():
    assert make_feed(7, ROWS) == make_feed(7, ROWS)
    assert make_feed(7, ROWS).days != make_feed(8, ROWS).days


def test_rows_offered_split_into_written_rescrapes_late():
    feed = make_feed(7, ROWS)
    for day, (rows, book) in enumerate(zip(feed.days, feed.per_day)):
        assert len(rows) == book["offered"]
        assert book["offered"] == book["written"] + book["rescrapes"] + book["late"]
        if day == EMPTY_DAY:
            assert rows == []
        else:
            assert book["written"] == ROWS
    assert len(feed.expected) == sum(b["written"] for b in feed.per_day)


def test_each_kind_of_row_meets_its_watermark():
    feed = make_feed(7, ROWS)
    accepted: set[str] = set()
    for day, rows in enumerate(feed.days):
        wm = feed.watermarks[day]
        links = [r["job_link"] for r in rows]
        assert len(links) == len(set(links)), "a link twice in one day"
        new = [r for r in rows if feed.expected.get(r["job_link"], {}).get("day") == day]
        rescrapes = [r for r in rows if r["job_link"] in accepted]
        late = [r for r in rows if r not in new and r not in rescrapes]
        assert len(new) == feed.per_day[day]["written"]
        assert len(rescrapes) == feed.per_day[day]["rescrapes"]
        assert len(late) == feed.per_day[day]["late"]
        if wm is None:
            assert not rescrapes and not late
        else:
            assert all(r["posted_date"] > wm for r in new + rescrapes)
            assert all(r["posted_date"] <= wm for r in late)
            if late:
                assert any(r["posted_date"] == wm for r in late)
            assert all(r["job_link"] not in feed.expected for r in late)
        accepted.update(r["job_link"] for r in new)
    assert feed.watermark_us == max(e["posted_us"] for e in feed.expected.values())


def test_salaries_cover_every_shape():
    feed = make_feed(7, ROWS)
    texts = [r["salary"] for rows in feed.days for r in rows]
    assert any("triệu" in t and "-" in t for t in texts)
    assert any("USD" in t and "-" in t for t in texts)
    assert any(t.startswith(("Tới", "Trên")) for t in texts)
    assert any(t == "Thỏa thuận" for t in texts)
    nulls = [e for e in feed.expected.values() if e["salary"] is None]
    assert sum(b["null_salary"] for b in feed.per_day) == len(nulls)


def test_render_remaining_buckets():
    s = 1_000_000
    assert render_remaining(0, 0) == EXPIRED_TEXT
    assert render_remaining(-5 * s, 0) == EXPIRED_TEXT
    assert render_remaining(59 * s, 0) == "Còn 59 giây để ứng tuyển"
    assert render_remaining(60 * s, 0) == "Còn 1 phút để ứng tuyển"
    assert render_remaining(3_599 * s, 0) == "Còn 59 phút để ứng tuyển"
    assert render_remaining(3_600 * s, 0) == "Còn 1 giờ để ứng tuyển"
    assert render_remaining(86_399 * s, 0) == "Còn 23 giờ để ứng tuyển"
    assert render_remaining(86_400 * s, 0) == "Còn 1 ngày để ứng tuyển"
