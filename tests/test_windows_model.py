"""The event-time operators of ``streaming.windows`` over seeded batch
event frames, against a pure-Python model: tumbling and sliding window
membership and sums, gap-based sessions, and exact dedup. On a batch
frame the watermark is inert, so the result is the operator's full
answer (the streaming runs in tests/test_streaming_export.py compare
against batch, which these cases pin to the model)."""

from __future__ import annotations

import random
from collections import defaultdict
from datetime import datetime, timedelta
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from olap_project_spark.streaming.windows import (
    dedup_stream,
    session_event_counts,
    windowed_event_stats,
)

SEEDS = [1, 2, 3]
_T0 = datetime(2024, 1, 15)
_FMT = "%Y-%m-%d %H:%M:%S"


def _events(seed, n=120):
    """(ts, event_type, user_id, value) rows over two days; one row in
    ten repeats an earlier row's (event_type, user_id, ts) with another
    value — a replayed event."""
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        if rows and rng.random() < 0.1:
            ts, et, uid, _ = rng.choice(rows)
        else:
            ts = _T0 + timedelta(seconds=rng.randint(0, 2 * 86400 - 1))
            et, uid = rng.choice(["view", "click", "buy"]), rng.randint(0, 4)
        rows.append((ts, et, uid, rng.randint(1, 99999) / 100))
    return rows


def _frame(spark, rows):
    df = spark.createDataFrame(
        [(t.strftime(_FMT), et, uid, v) for t, et, uid, v in rows],
        "ts_s string, event_type string, user_id int, value double",
    )
    return df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


def _fmt(col):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def _secs(spec: str) -> int:
    n, unit = spec.split()
    return int(n) * {"minutes": 60, "hour": 3600, "hours": 3600, "day": 86400}[unit]


WINDOWS = [("1 hour", None), ("30 minutes", None), ("1 day", None),
           ("1 hour", "15 minutes"), ("2 hours", "30 minutes")]


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("window,slide", WINDOWS,
                         ids=[f"{w}/{s or 'tumbling'}" for w, s in WINDOWS])
def test_windowed_stats_match_model(spark, window, slide, seed):
    rows = _events(seed)
    got = sorted(
        tuple(r)
        for r in windowed_event_stats(_frame(spark, rows), window=window, slide=slide)
        .select(_fmt("window_start"), _fmt("window_end"), "event_type",
                "n_events", "total_value")
        .collect()
    )
    size, step = _secs(window), _secs(slide or window)
    acc = defaultdict(list)
    for t, et, _, v in rows:
        s = int((t - _T0).total_seconds())
        start = s - s % step
        while start > s - size:
            acc[(start, et)].append(v)
            start -= step
    want = sorted(
        (
            (_T0 + timedelta(seconds=st)).strftime(_FMT),
            (_T0 + timedelta(seconds=st + size)).strftime(_FMT),
            et,
            len(vs),
            round(float(sum(Decimal(repr(v)) for v in vs)), 2),
        )
        for (st, et), vs in acc.items()
    )
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("gap", ["10 minutes", "30 minutes", "2 hours"])
def test_sessions_match_model(spark, gap, seed):
    rows = _events(seed)
    got = sorted(
        tuple(r)
        for r in session_event_counts(_frame(spark, rows), gap=gap)
        .select(_fmt("session_start"), _fmt("session_end"), "user_id", "n_events")
        .collect()
    )
    g = timedelta(seconds=_secs(gap))
    by_user = defaultdict(list)
    for t, _, uid, _ in rows:
        by_user[uid].append(t)
    want = []
    for uid, ts in by_user.items():
        ts.sort()
        start, end, n = ts[0], ts[0] + g, 1
        for t in ts[1:]:
            if t < end:
                end, n = max(end, t + g), n + 1
            else:
                want.append((start.strftime(_FMT), end.strftime(_FMT), uid, n))
                start, end, n = t, t + g, 1
        want.append((start.strftime(_FMT), end.strftime(_FMT), uid, n))
    assert got == sorted(want)


@pytest.mark.parametrize("seed", SEEDS)
def test_dedup_keeps_one_row_per_key(spark, seed):
    rows = _events(seed)
    got = sorted(
        tuple(r)
        for r in dedup_stream(_frame(spark, rows), ["event_type", "user_id"])
        .select("event_type", "user_id", _fmt("ts"))
        .collect()
    )
    want = sorted({(et, uid, t.strftime(_FMT)) for t, et, uid, _ in rows})
    assert got == want
    assert len(want) < len(rows)  # replayed events were generated
