"""Table-driven cases for the export scheduler (``export.scheduler``):
next fire times of the cron forms real policies use, the expressions
it must reject, ``due_runs`` windows, and the retry budget over every
(retries, transient failures) pair up to three. Expected values are
worked out by hand from the calendar (2024-01-15 is a Monday)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from olap_project_spark.export.scheduler import (
    CronSpec,
    ExportPolicy,
    due_runs,
    run_with_retries,
)

AFTER = datetime(2024, 1, 15, 10, 30)  # Monday 10:30

NEXT_FIRE = [
    ("0 23 * * *", AFTER, datetime(2024, 1, 15, 23, 0)),
    ("*/15 * * * *", AFTER, datetime(2024, 1, 15, 10, 45)),
    ("30 10 * * *", AFTER, datetime(2024, 1, 16, 10, 30)),  # strictly after
    ("* * * * *", AFTER, datetime(2024, 1, 15, 10, 31)),
    ("* * * * *", AFTER.replace(second=45), datetime(2024, 1, 15, 10, 31)),
    ("0 0 1 * *", AFTER, datetime(2024, 2, 1, 0, 0)),
    ("0 12 * * 0", AFTER, datetime(2024, 1, 21, 12, 0)),  # Sunday
    ("0 12 * * 7", AFTER, datetime(2024, 1, 21, 12, 0)),  # 7 is Sunday too
    ("0 9 * * 1-5", AFTER, datetime(2024, 1, 16, 9, 0)),
    ("0 22 * * 1-5", AFTER, datetime(2024, 1, 15, 22, 0)),
    ("0 0 * * 5-7", AFTER, datetime(2024, 1, 19, 0, 0)),  # Friday
    ("0 0 * * 6,0", AFTER, datetime(2024, 1, 20, 0, 0)),  # Saturday
    ("0 9,18 * * *", AFTER, datetime(2024, 1, 15, 18, 0)),
    ("5-10 11 * * *", AFTER, datetime(2024, 1, 15, 11, 5)),
    ("10-40/10 * * * *", AFTER, datetime(2024, 1, 15, 10, 40)),
    ("0 */6 * * *", AFTER, datetime(2024, 1, 15, 12, 0)),
    ("0 0 29 2 *", AFTER, datetime(2024, 2, 29, 0, 0)),  # leap day
    ("0 0 31 * *", AFTER, datetime(2024, 1, 31, 0, 0)),
    ("0 0 * 3 *", AFTER, datetime(2024, 3, 1, 0, 0)),
    ("15 14 1 * *", AFTER, datetime(2024, 2, 1, 14, 15)),
    ("0 0 1 1 *", AFTER, datetime(2025, 1, 1, 0, 0)),
    ("59 23 31 12 *", AFTER, datetime(2024, 12, 31, 23, 59)),
    ("0 23 * * *", datetime(2024, 1, 15, 23, 0), datetime(2024, 1, 16, 23, 0)),
    ("0 0 * * *", datetime(2024, 2, 28, 23, 59, 59), datetime(2024, 2, 29, 0, 0)),
    ("0 0 1 * *", datetime(2024, 12, 31, 12, 0), datetime(2025, 1, 1, 0, 0)),
]


@pytest.mark.parametrize(
    "expr,after,want", NEXT_FIRE, ids=[f"{c[0]}@{c[1]:%m%d%H%M}" for c in NEXT_FIRE]
)
def test_next_fire(expr, after, want):
    spec = CronSpec.parse(expr)
    got = spec.next_fire(after)
    assert got == want
    assert spec.matches(got)


def test_never_firing_schedule_is_reported():
    with pytest.raises(ValueError, match="never fires"):
        CronSpec.parse("0 0 30 2 *").next_fire(AFTER)


INVALID = [
    "",
    "* * * *",
    "* * * * * *",
    "60 * * * *",
    "* 24 * * *",
    "* * 0 * *",
    "* * 32 * *",
    "* * * 0 *",
    "* * * 13 *",
    "* * * * 8",
    "a * * * *",
    "5-70 * * * *",
    "1-2-3 * * * *",
]


@pytest.mark.parametrize("expr", INVALID, ids=[repr(e) for e in INVALID])
def test_invalid_expression_rejected(expr):
    with pytest.raises(ValueError):
        CronSpec.parse(expr)


DUE = [
    # cron, catchup, last_run, now, expected fires
    ("0 23 * * *", False, datetime(2024, 1, 15, 23, 0), datetime(2024, 1, 16, 22, 59), []),
    ("0 23 * * *", False, datetime(2024, 1, 15, 23, 0), datetime(2024, 1, 16, 23, 0),
     [datetime(2024, 1, 16, 23, 0)]),
    ("0 23 * * *", False, datetime(2024, 1, 12, 23, 0), datetime(2024, 1, 16, 23, 30),
     [datetime(2024, 1, 16, 23, 0)]),
    ("0 23 * * *", True, datetime(2024, 1, 12, 23, 0), datetime(2024, 1, 16, 23, 30),
     [datetime(2024, 1, d, 23, 0) for d in (13, 14, 15, 16)]),
    ("0 */6 * * *", True, datetime(2024, 1, 15, 0, 0), datetime(2024, 1, 15, 17, 0),
     [datetime(2024, 1, 15, h, 0) for h in (6, 12)]),
    ("0 23 * * *", True, None, datetime(2024, 1, 16, 23, 30),
     [datetime(2024, 1, 16, 23, 0)]),
    ("0 23 * * *", False, None, datetime(2024, 1, 16, 22, 0),
     [datetime(2024, 1, 15, 23, 0)]),
]


@pytest.mark.parametrize("cron,catchup,last_run,now,want", DUE)
def test_due_runs(cron, catchup, last_run, now, want):
    assert due_runs(ExportPolicy(cron=cron, catchup=catchup), last_run, now) == want


@pytest.mark.parametrize("failures", [0, 1, 2, 3])
@pytest.mark.parametrize("retries", [0, 1, 2, 3])
def test_retry_budget(retries, failures):
    """A job that fails ``failures`` times, then succeeds: it succeeds
    iff the budget covers the failures, with one sleep of
    ``retry_delay`` between consecutive attempts."""
    calls, sleeps = [], []

    def job():
        calls.append(1)
        if len(calls) <= failures:
            raise RuntimeError(f"transient {len(calls)}")
        return "ok"

    policy = ExportPolicy(retries=retries, retry_delay=timedelta(seconds=7))
    report = run_with_retries(job, policy, AFTER, sleep=sleeps.append)
    ok = failures <= retries
    assert report.succeeded is ok
    assert report.attempts == len(calls) == min(failures, retries) + 1
    assert report.result == ("ok" if ok else None)
    assert report.errors == [
        f"RuntimeError: transient {i}" for i in range(1, min(failures, retries + 1) + 1)
    ]
    assert sleeps == [7.0] * (report.attempts - 1)
    assert report.logical_date == AFTER
