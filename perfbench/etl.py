"""The ``jobs_etl`` workload: a seeded feed of daily scrape batches.

The feed imitates the reference's daily TopCV scrape. Every day is one
``JOBS_RAW`` batch, written as parquet before timing starts. Each day
that is not empty offers three kinds of rows:

- new links, which the pipeline must write to silver;
- re-scrapes of links already in silver, with a newer ``posted_date``,
  which pass the watermark filter and are dropped by the anti-join;
- late rows at or below the watermark (one exactly at it), which the
  watermark filter drops.

One day is empty and takes the pipeline's F6 skip path. A link appears
at most once per day: ``pipeline.run_batch`` keeps within-batch
duplicates, so a feed with same-day re-scrapes would check that fault
instead of measuring the pipeline.

Everything the checks compare against is kept in plain Python by the
generator (:class:`Feed`): salaries come from the bounds the generator
drew, not from parsing the text it rendered; remaining times come from
:func:`render_remaining`, a Python rendering of the reference's
buckets. The checks return a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import time
from dataclasses import dataclass, field

US = 1_000_000
DAY_US = 86_400 * US
#: 2026-01-05 00:00:00 UTC; day d of the feed starts d days later.
BASE_US = 1_767_571_200 * US
USD_RATE = 23_000.0 / 1_000_000.0  # pipeline's default, millions VND per USD
EXPIRED_TEXT = "Đã hết thời gian ứng tuyển"
SENTINEL = "Thỏa thuận"

DAYS = 6
EMPTY_DAY = 3
RESCRAPE_SHARE = 0.10
LATE_SHARE = 0.05

_TITLES = (
    "Data Engineer - Hà Nội",
    "Kỹ Sư Phần Mềm (Java)",
    "Nhân Viên Kinh Doanh - Up to $1,000",
    "Senior Backend Developer / Golang",
    "Chuyên Viên Phân Tích Dữ Liệu",
    "Kế Toán Tổng Hợp - Thu Nhập 15-20 Triệu",
    "Trưởng Nhóm Marketing",
    "QA/QC Engineer - Remote",
)
_COMPANIES = (
    "Công ty TNHH ABC",
    "FPT Software",
    "Viettel Digital",
    "VNG Corporation",
    "Tiki",
    "MoMo",
)
_LOCATIONS = ("Hà Nội", "Hồ Chí Minh", "Đà Nẵng", "Hải Phòng", "Cần Thơ")

#: due-date offsets from the refresh clock, in seconds, one range per
#: bucket of the reference's remaining-time render; 0 sits on the
#: expired boundary. Weights favour the "days" bucket, as real
#: postings do.
_DUE_BUCKETS = (
    ((-30 * 86_400, 0), 2),
    ((1, 59), 1),
    ((60, 3_599), 1),
    ((3_600, 86_399), 2),
    ((86_400, 45 * 86_400), 14),
)


def day_start_us(day: int) -> int:
    return BASE_US + day * DAY_US


def batch_now_us(day: int) -> int:
    """The pipeline clock of day ``day``'s run: 23:00 that day."""
    return day_start_us(day) + 23 * 3_600 * US


def render_remaining(due_us: int, now_us: int) -> str:
    """The reference's remaining-time buckets (functions/remaining.py),
    for whole-second clocks."""
    diff_s = (due_us - now_us) // US
    if diff_s <= 0:
        return EXPIRED_TEXT
    if diff_s < 60:
        return f"Còn {diff_s} giây để ứng tuyển"
    if diff_s < 3_600:
        return f"Còn {diff_s // 60} phút để ứng tuyển"
    if diff_s < 86_400:
        return f"Còn {diff_s // 3_600} giờ để ứng tuyển"
    return f"Còn {diff_s // 86_400} ngày để ứng tuyển"


def _salary(rng: random.Random) -> tuple[str, float | None]:
    """Salary text in one of the reference's shapes and the mean of the
    bounds it was rendered from, computed as the pipeline computes it."""
    shape = rng.randrange(6)
    if shape == 0:
        lo = rng.randint(5, 40)
        hi = lo + rng.randint(1, 20)
        return f"{lo} - {hi} triệu", (float(lo) + float(hi)) / 2.0
    if shape == 1:
        amount = rng.randint(5, 60)
        return f"Tới {amount} triệu", float(amount)
    if shape == 2:
        lo = 50 * rng.randint(10, 60)
        hi = lo + 50 * rng.randint(1, 40)
        return (
            f"{lo:,} - {hi:,} USD",
            (float(lo) * USD_RATE + float(hi) * USD_RATE) / 2.0,
        )
    if shape == 3:
        amount = 50 * rng.randint(10, 80)
        return f"Trên {amount:,} USD", float(amount) * USD_RATE
    return SENTINEL, None


def _due_offset_s(rng: random.Random) -> int:
    (lo, hi), = rng.choices(
        [b for b, _ in _DUE_BUCKETS], weights=[w for _, w in _DUE_BUCKETS]
    )
    return rng.randint(lo, hi)


@dataclass
class Feed:
    """Daily raw batches plus the generator's own bookkeeping."""

    days: list[list[dict]]
    #: job_link -> {"salary", "due_us", "posted_us", "day"} for every
    #: link the pipeline must write.
    expected: dict[str, dict]
    #: per day: offered, written, rescrapes, late, null_salary.
    per_day: list[dict]
    refresh_now_us: int
    #: largest accepted posted_date, micros (None before any write).
    watermark_us: int | None
    watermarks: list[int | None] = field(default_factory=list)


def make_feed(seed: int, rows_per_day: int) -> Feed:
    """Build the feed for ``seed``: ``rows_per_day`` new links on each
    of ``DAYS`` days but ``EMPTY_DAY``, plus re-scrapes and late rows
    after day 0."""
    rng = random.Random(seed)
    refresh_now = day_start_us(DAYS) + 6 * 3_600 * US
    expected: dict[str, dict] = {}
    accepted: list[str] = []
    per_day: list[dict] = []
    batches: list[list[dict]] = []
    watermarks: list[int | None] = []
    wm: int | None = None
    next_id = rng.randrange(10**6)

    def link() -> str:
        nonlocal next_id
        next_id += 1 + rng.randrange(3)
        return f"https://www.topcv.vn/viec-lam/job/{next_id}.html"

    def row(job_link: str, posted_us: int, salary_text: str, due_us: int):
        return {
            "job_name": rng.choice(_TITLES),
            "job_link": job_link,
            "salary": salary_text,
            "company_name": rng.choice(_COMPANIES),
            "update_text": f"Cập nhật {rng.randint(1, 23)} giờ trước",
            "job_location": rng.choice(_LOCATIONS),
            "remaining_time_text": f"Còn {rng.randint(1, 30)} ngày để ứng tuyển",
            "posted_date": posted_us,
            "due_date": due_us,
        }

    for day in range(DAYS):
        watermarks.append(wm)
        if day == EMPTY_DAY:
            batches.append([])
            per_day.append(
                {"offered": 0, "written": 0, "rescrapes": 0, "late": 0,
                 "null_salary": 0}
            )
            continue
        start = day_start_us(day)
        rows = []
        nulls = 0
        new_links = []
        for _ in range(rows_per_day):
            job_link = link()
            text, salary = _salary(rng)
            posted = start + rng.randrange(86_400) * US
            due = refresh_now + _due_offset_s(rng) * US
            rows.append(row(job_link, posted, text, due))
            expected[job_link] = {
                "salary": salary, "due_us": due, "posted_us": posted,
                "day": day,
            }
            nulls += salary is None
            new_links.append(job_link)
        n_rescrape = n_late = 0
        if wm is not None:
            n_rescrape = min(round(rows_per_day * RESCRAPE_SHARE), len(accepted))
            for job_link in rng.sample(accepted, n_rescrape):
                text, _ = _salary(rng)
                posted = start + rng.randrange(86_400) * US
                rows.append(row(job_link, posted, text, refresh_now))
            n_late = max(1, round(rows_per_day * LATE_SHARE))
            for i in range(n_late):
                # first late row sits exactly on the watermark
                posted = wm - (0 if i == 0 else rng.randrange(2 * 86_400) * US)
                text, _ = _salary(rng)
                rows.append(row(link(), posted, text, refresh_now))
        rng.shuffle(rows)
        batches.append(rows)
        accepted.extend(new_links)
        day_max = max(expected[job_link]["posted_us"] for job_link in new_links)
        wm = day_max if wm is None else max(wm, day_max)
        per_day.append(
            {"offered": len(rows), "written": len(new_links),
             "rescrapes": n_rescrape, "late": n_late, "null_salary": nulls}
        )
    return Feed(batches, expected, per_day, refresh_now, wm, watermarks)


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def check_batches(feed: Feed, results: list[dict]) -> list[str]:
    """Per batch: rows offered = written + re-scrapes + late, and what
    ``run_batch`` reports matches the generator's count."""
    problems = []
    if len(results) != len(feed.per_day):
        return [f"{len(results)} batch results for {len(feed.per_day)} days"]
    for day, (want, got) in enumerate(zip(feed.per_day, results)):
        if want["offered"] != want["written"] + want["rescrapes"] + want["late"]:
            problems.append(f"day {day}: generator bookkeeping does not add up")
        if want["offered"] == 0:
            if not got.get("skipped"):
                problems.append(f"day {day}: empty batch was not skipped")
            continue
        if got.get("skipped") or got.get("rows") != want["written"]:
            problems.append(
                f"day {day}: wrote {got.get('rows')} rows, expected "
                f"{want['written']} of {want['offered']} offered"
            )
        metrics = got.get("metrics") or {}
        if metrics.get("rows_written") != want["written"]:
            problems.append(
                f"day {day}: write observed {metrics.get('rows_written')} rows"
            )
        if metrics.get("null_salary_rows") != want["null_salary"]:
            problems.append(
                f"day {day}: {metrics.get('null_salary_rows')} NULL salaries, "
                f"expected {want['null_salary']}"
            )
    return problems


def check_silver(
    feed: Feed, rows: list[dict], now_us: int | None = None
) -> list[str]:
    """Silver against the generator: one row per new link, each salary
    equal to the mean of its generated bounds, and every remaining_time
    rendered at ``now_us`` (or, when None, at its batch's clock).

    ``rows`` carry ``job_link``, ``salary``, ``remaining_time``."""
    problems = []
    expected = feed.expected
    if len(rows) != len(expected):
        problems.append(f"silver has {len(rows)} rows, expected {len(expected)}")
    seen: set[str] = set()
    nulls = 0
    total = 0.0
    for r in rows:
        job_link = r["job_link"]
        if job_link in seen:
            problems.append(f"job_link {job_link} appears more than once")
            continue
        seen.add(job_link)
        want = expected.get(job_link)
        if want is None:
            problems.append(f"job_link {job_link} was never a new link")
            continue
        salary = r["salary"]
        if salary is None or (isinstance(salary, float) and math.isnan(salary)):
            salary = None
            nulls += 1
        else:
            total += salary
        if salary != want["salary"]:
            problems.append(
                f"{job_link}: salary {salary!r}, expected {want['salary']!r}"
            )
        clock = now_us if now_us is not None else batch_now_us(want["day"])
        text = render_remaining(want["due_us"], clock)
        if r["remaining_time"] != text:
            problems.append(
                f"{job_link}: remaining_time {r['remaining_time']!r}, "
                f"expected {text!r}"
            )
    missing = len(expected) - len(seen & expected.keys())
    if missing:
        problems.append(f"{missing} new links missing from silver")
    want_nulls = sum(w["salary"] is None for w in expected.values())
    want_total = math.fsum(
        w["salary"] for w in expected.values() if w["salary"] is not None
    )
    if nulls != want_nulls:
        problems.append(f"{nulls} NULL salaries, expected {want_nulls}")
    if not math.isclose(total, want_total, rel_tol=1e-9):
        problems.append(f"salary sum {total!r}, expected {want_total!r}")
    return problems[:20]


def check_watermark(feed: Feed, watermark_us: int | None) -> list[str]:
    if watermark_us != feed.watermark_us:
        return [f"watermark {watermark_us}, expected {feed.watermark_us}"]
    return []


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------

#: new links per day; with re-scrapes and late rows a day offers ~1.15x.
ROWS_PER_DAY = 10_000
#: untimed rounds before timing. The write path keeps getting faster
#: for three rounds (JIT): in one run the rounds took 19.0, 6.2, 5.2,
#: then 4.3-5.0 s from the fourth on.
WARMUP_ROUNDS = 3
#: timed rounds a run makes at least; an operation's figure is its
#: best round, which damps the ~10% jitter of single batches.
TIMED_ROUNDS = 2
#: part files per day, as a Spark job writing bronze would leave them.
FILES_PER_DAY = 4
_FIELDS = (
    "job_name", "job_link", "salary", "company_name", "update_text",
    "job_location", "remaining_time_text", "posted_date", "due_date",
)


def write_feed(feed: Feed, bronze_dir: str) -> list[str]:
    """Write each day as parquet part files; returns one dir per day."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.timestamp("us", tz="UTC")
    schema = pa.schema(
        [(f, ts if f.endswith("_date") else pa.string()) for f in _FIELDS]
    )
    dirs = []
    for day, rows in enumerate(feed.days):
        path = os.path.join(bronze_dir, f"day={day}")
        os.makedirs(path)
        for part in range(FILES_PER_DAY):
            chunk = rows[part::FILES_PER_DAY]
            table = pa.table(
                {f: [r[f] for r in chunk] for f in _FIELDS}, schema=schema
            )
            pq.write_table(table, os.path.join(path, f"part-{part}.parquet"))
        dirs.append(path)
    return dirs


def _parquet_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [
        os.path.join(path, f) for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def column_bytes(path: str, column: str) -> int:
    """Compressed bytes of ``column`` over every row group in ``path``:
    what a scan pruned to that column reads."""
    import pyarrow.parquet as pq

    total = 0
    for f in _parquet_files(path):
        meta = pq.ParquetFile(f).metadata
        idx = meta.schema.names.index(column)
        for g in range(meta.num_row_groups):
            total += meta.row_group(g).column(idx).total_compressed_size
    return total


def read_silver(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(
        path, columns=["job_link", "salary", "remaining_time"]
    ).to_pylist()


def _micros(ts) -> int | None:
    if ts is None:
        return None
    if ts.tzinfo is not None:
        ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def run(ctx, seconds: float) -> dict:
    """Untimed warm-up rounds, then timed rounds for ``seconds``; each
    round runs the whole feed into a fresh silver and is checked."""
    from web_scraping_etl_pipeline_spark.pipeline import (
        clean,
        refresh_remaining_time,
        run_batch,
        transform,
    )
    from web_scraping_etl_pipeline_spark.schemas import JOBS_RAW
    from web_scraping_etl_pipeline_spark.sources.state import (
        read_last_processed_time,
    )

    from perfbench.harness import log

    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    records: list[dict] = []
    problems: list[str] = []

    def batch(op: str, bronze: str, now_us: int, silver: str, state: str, rec):
        if tracer.enabled:
            rec["silver_scan_mb"] = column_bytes(silver, "job_link") / 2**20
            before = dir_bytes(silver)
        t = time.perf_counter()
        with tracer.phase(op, "batch"):
            raw = spark.read.schema(JOBS_RAW).parquet(bronze)
            result = run_batch(spark, raw, silver, state, now_us=now_us)
        rec["s"] = time.perf_counter() - t
        if tracer.enabled:
            rec["write_mb"] = (dir_bytes(silver) - before) / 2**20
            t = time.perf_counter()
            with tracer.phase(op, "parse"):
                raw = spark.read.schema(JOBS_RAW).parquet(bronze)
                transform(clean(raw), now_us=now_us).write.format(
                    "noop"
                ).mode("overwrite").save()
            rec["parse_s"] = time.perf_counter() - t
        return result

    def one_round(rnd: str, feed: Feed, bronze: list[str]) -> int:
        """Every day, then the refresh, then the checks; returns the
        operations failed."""
        silver = os.path.join(work, f"silver-{rnd}")
        state = os.path.join(work, f"state-{rnd}.json")
        failed = 0
        results = []
        for day in range(len(feed.days)):
            rec = {"round": rnd, "name": f"day{day}", "kind": "batch"}
            try:
                results.append(
                    batch(f"{rnd}:day{day}", bronze[day], batch_now_us(day),
                          silver, state, rec)
                )
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                failed += 1
                log(f"{rnd} day{day} failed: {exc}")
                results.append({})
                continue
            records.append(rec)
            log(f"{rnd} day{day} {rec['s']:.3f}s")
        problems.extend(check_batches(feed, results))
        problems.extend(
            check_watermark(feed, _micros(read_last_processed_time(state)))
        )
        problems.extend(check_silver(feed, read_silver(silver)))
        rec = {"round": rnd, "name": "refresh", "kind": "refresh",
               "bytes": dir_bytes(silver), "rows": len(feed.expected)}
        t = time.perf_counter()
        try:
            with tracer.phase(f"{rnd}:refresh", "refresh"):
                kept = refresh_remaining_time(spark, silver, feed.refresh_now_us)
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            log(f"{rnd} refresh failed: {exc}")
            return failed + 1
        rec["s"] = time.perf_counter() - t
        records.append(rec)
        log(f"{rnd} refresh {rec['s']:.3f}s")
        if kept != len(feed.expected):
            problems.append(f"refresh kept {kept} rows of {len(feed.expected)}")
        problems.extend(
            check_silver(feed, read_silver(silver), feed.refresh_now_us)
        )
        return failed

    feed, bronze = ctx.inputs
    for i in range(WARMUP_ROUNDS):
        one_round(f"w{i}", feed, bronze)
    del records[:]
    ctx.mark_setup_done()

    attempted = failed = rnd = 0
    t_start = time.perf_counter()
    while rnd < TIMED_ROUNDS or time.perf_counter() - t_start < seconds:
        rnd += 1
        attempted += len(feed.days) + 1
        failed += one_round(f"r{rnd}", feed, bronze)
    ctx.finish_spark()
    return {
        "records": records,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
    }
