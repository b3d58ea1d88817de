"""Seeded raw POS-transaction generator and the pure-Python reference
model the benchmark checks the program's outputs against.

Rows follow ``RAW_TRANSACTION_SCHEMA`` (one JSON object per line, the
shape the streaming file source and the batch JSON reader take), in
event-time order over a fixed span of days starting 2024-03-01.
Malformed rows are injected on purpose so that all four routes of
``transforms.route`` receive rows: non-positive or unparseable
``Amount``, short or missing ``Card``, unparseable ``timestamp``, plus
error and fraud flags.

For every row the generator also records what the engine must make of
it (route flags, event-time calendar, amount in cents), so expected
counts and query results are computed here without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
from collections import Counter, defaultdict
from typing import NamedTuple

import numpy as np

SPAN_START = dt.date(2024, 3, 1)
N_USERS = 2000
N_MERCHANTS = 300
N_CITIES = 60
VND_PER_USD = 25057  # schemas.DEFAULT_VND_PER_USD, an integer rate
RAPID_GAP_S = 300  # q5_rapid_transactions default
LARGE_USD_CENTS = 50_000  # q6_large_txn_profile default threshold, in cents

_STATES = ("CA", "TX", "NY", "FL", "WA", "IL", "OH", "GA", "NC", "MI")
_CHIP = ("Chip Transaction", "Swipe Transaction", "Online Transaction")
_ERRORS = ("Insufficient Balance,", "Bad PIN,", "Technical Glitch,")


class Txn(NamedTuple):
    """What ``clean`` + ``route`` (reference mode) must make of one raw
    row. Calendar fields are None when the timestamp does not parse;
    ``cents`` is None when the amount does not parse."""

    valid: bool
    fraud: bool
    error: bool
    invalid: bool
    user: str
    card: str | None
    day: int | None  # day index from SPAN_START
    hour: int | None
    weekend: bool
    epoch: int | None
    cents: int | None
    merchant: str
    city: str

    @property
    def vnd_cents(self) -> int:
        """Amount_VND in hundredths of a dong (exact for valid rows)."""
        return self.cents * VND_PER_USD


def day_date(day: int) -> dt.date:
    return SPAN_START + dt.timedelta(days=day)


def _card(user: int, k: int) -> str:
    return str(4_000_000_000_000_000 + user * 10 + k)


def _merchant(m: int) -> tuple[str, str, str]:
    """(name, city, the JSON fields that depend only on the merchant)."""
    c = m % N_CITIES
    name, city = f"Merchant {m:04d}", f"City {c:02d}"
    frag = json.dumps({
        "Use Chip": _CHIP[m % 3], "Merchant Name": name, "Merchant City": city,
        "Merchant State": _STATES[c % len(_STATES)], "Zip": f"{90000 + c:05d}",
        "MCC": str(5000 + m % 400),
    }, separators=(",", ":"))[1:-1]
    return name, city, frag


_MERCHANTS = [_merchant(m) for m in range(N_MERCHANTS)]


def _q(v) -> str:
    return "null" if v is None else f'"{v}"'


def gen_day(seed: int, day: int, n_rows: int) -> tuple[list[str], list[Txn]]:
    """The raw JSON lines of one day, in event-time order, and their
    model. Each day has its own random stream, so any day can be
    generated on its own."""
    rng = np.random.default_rng([seed, day])
    date = day_date(day)
    iso = date.isoformat()
    midnight = int(dt.datetime(date.year, date.month, date.day,
                               tzinfo=dt.timezone.utc).timestamp())
    weekend = date.weekday() >= 5
    secs = np.sort(rng.integers(0, 86_400, n_rows)).tolist()
    # skewed keys: a few users and merchants take a large share of rows
    users = (N_USERS * rng.random(n_rows) ** 2).astype(np.int64).tolist()
    which_card = rng.integers(0, 2, n_rows).tolist()
    merchants = (N_MERCHANTS * rng.random(n_rows) ** 2).astype(np.int64).tolist()
    large = rng.random(n_rows) < 0.05
    cents_all = np.where(large, rng.integers(LARGE_USD_CENTS, 300_000, n_rows),
                         1 + rng.exponential(6000, n_rows).astype(np.int64)).tolist()
    err_u = rng.random(n_rows)
    err_k = rng.integers(0, 3, n_rows).tolist()
    fraud_all = (rng.random(n_rows) < 0.015).tolist()
    # deliberate malformations, each independent of the flags above
    amt_u = rng.random(n_rows).tolist()
    card_u = rng.random(n_rows).tolist()
    ts_bad = (rng.random(n_rows) < 0.005).tolist()
    err_all = [_ERRORS[k] if u < 0.01 else None for u, k in zip(err_u.tolist(), err_k)]

    lines: list[str] = []
    model: list[Txn] = []
    head = f'"Year":{date.year},"Month":{date.month},"Day":{date.day},'
    for i in range(n_rows):
        sec, u, m, cents = secs[i], users[i], merchants[i], cents_all[i]
        user = str(u)
        card = _card(u, which_card[i])
        r = amt_u[i]
        if r < 0.006:
            cents = -cents
            amount = f"$-{-cents // 100}.{-cents % 100:02d}"
        elif r < 0.009:
            cents, amount = 0, "$0.00"
        elif r < 0.012:
            cents, amount = None, "N/A"
        else:
            amount = f"${cents // 100}.{cents % 100:02d}"
        r = card_u[i]
        if r < 0.006:
            card = card[:12]
        elif r < 0.009:
            card = None
        hh, rem = divmod(sec, 3600)
        mm, ss = divmod(rem, 60)
        ts_ok = not ts_bad[i]
        ts = f"{iso}T{hh:02d}:{mm:02d}:{ss:02d}" if ts_ok else "not-a-timestamp"
        errors, fraud = err_all[i], fraud_all[i]
        name, city, frag = _MERCHANTS[m]
        lines.append(
            f'{{"User":"{user}","Card":{_q(card)},{head}"Time":"{hh:02d}:{mm:02d}",'
            f'"Amount":"{amount}",{frag},"Errors?":{_q(errors)},'
            f'"Is Fraud?":"{"Yes" if fraud else "No"}","timestamp":"{ts}"}}'
        )
        has_error = errors is not None
        amount_ok = cents is not None and cents > 0
        card_long = card is not None and len(card) >= 16
        card_short = card is not None and len(card) < 16
        model.append(Txn(
            card_long and amount_ok and ts_ok,
            fraud,
            has_error,
            # the reference predicate: a null Card is neither valid
            # nor, unless something else is wrong, invalid
            not has_error and not fraud
            and (not amount_ok or card_short or not ts_ok),
            user, card,
            day if ts_ok else None,
            hh if ts_ok else None,
            weekend,
            midnight + sec if ts_ok else None,
            cents, name, city,
        ))
    return lines, model


def route_counts(model) -> dict[str, int]:
    c = Counter()
    for t in model:
        for name in ("valid", "fraud", "error", "invalid"):
            if getattr(t, name):
                c[name] += 1
    return {k: c[k] for k in ("valid", "fraud", "error", "invalid")}


# ---------------------------------------------------------------------------
# Reference results for queries.transactions over the valid rows.
#
# Each query's result is reduced to a small signature: the row count,
# exact integer checksums, and for the ordered top-k queries the keys in
# order plus a money sum (compared with a relative tolerance, because
# the engine reports it as a double).


def _top_by_value(rows, key, k=10):
    tot = defaultdict(int)
    for t in rows:
        tot[key(t)] += t.vnd_cents
    top = sorted(tot.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return {
        "rows": len(top),
        "keys": [name for name, _ in top],
        "vnd": sum(v for _, v in top) / 100,
    }


def expected(q: str, rows: list[Txn]) -> dict:
    """Signature of ``queries.transactions.<q>`` over valid rows."""
    n = len(rows)
    if q == "q0_merchant_rollup":
        dates = [(t.merchant, day_date(t.day)) for t in rows]
        n_rows = (
            len(set(dates))
            + len({(m, d.year, d.month) for m, d in dates})
            + len({(m, d.year) for m, d in dates})
            + len({m for m, _ in dates})
            + 1  # grand total
        )
        return {"rows": n_rows, "sum": 5 * n}
    if q in ("q1_busiest_hours", "q1b_anomalous_hours"):
        hourly = Counter(t.hour for t in rows)
        if q == "q1_busiest_hours":
            top = min(hourly.items(), key=lambda kv: (-kv[1], kv[0]))[0] if n else None
            return {"rows": len(hourly), "sum": n, "first": top}
        counts = list(hourly.values())
        if len(counts) < 2:
            return {"rows": 0, "sum": 0}
        limit = statistics.fmean(counts) + 2.0 * statistics.stdev(counts)
        hot = [c for c in counts if c > limit]
        return {"rows": len(hot), "sum": sum(hot)}
    if q == "q2_top_cities_by_value":
        return _top_by_value(rows, lambda t: t.city)
    if q == "q3_top_merchants":
        return _top_by_value(rows, lambda t: t.merchant)
    if q == "q4_fraud_rate_by":
        return {"rows": len({t.city for t in rows}),
                "sum": sum(t.fraud for t in rows)}
    if q == "q5_rapid_transactions":
        per_card = defaultdict(list)
        for t in rows:
            per_card[(t.user, t.card)].append(t.epoch)
        rapid, gaps = Counter(), Counter()
        for (user, _), ts in per_card.items():
            ts.sort()
            for a, b in zip(ts, ts[1:]):
                gaps[user] += 1
                rapid[user] += b - a < RAPID_GAP_S
        users = [u for u in gaps if rapid[u] > 0]
        return {"rows": len(users), "sum": sum(rapid[u] for u in users),
                "sum2": sum(gaps[u] for u in users)}
    if q == "q6_large_txn_profile":
        big = [t for t in rows if t.cents > LARGE_USD_CENTS]
        return {"rows": len({(t.hour, t.city) for t in big}), "sum": len(big)}
    if q == "q7_fraud_trend":
        fr = [t for t in rows if t.fraud]
        return {"rows": len({t.hour for t in fr}), "sum": len(fr)}
    if q == "q8_weekend_comparison":
        return {"rows": len({t.weekend for t in rows}), "sum": n}
    if q == "q9_above_avg_flag_users":
        per_user = Counter()
        for t in rows:
            per_user[t.user] += t.fraud
        if not per_user:
            return {"rows": 0, "sum": 0}
        mu = sum(per_user.values()) / len(per_user)
        hot = [c for c in per_user.values() if c > mu]
        return {"rows": len(hot), "sum": sum(hot)}
    raise KeyError(q)


def signature(q: str, result: list) -> dict:
    """The same signature, taken from the engine's collected rows."""
    n = len(result)
    if q == "q0_merchant_rollup":
        return {"rows": n, "sum": sum(r["n_txns"] for r in result)}
    if q == "q1_busiest_hours":
        return {"rows": n, "sum": sum(r["n_txns"] for r in result),
                "first": result[0]["Hour"] if result else None}
    if q in ("q1b_anomalous_hours", "q6_large_txn_profile", "q8_weekend_comparison"):
        return {"rows": n, "sum": sum(r["n_txns"] for r in result)}
    if q in ("q2_top_cities_by_value", "q3_top_merchants"):
        key = "Merchant_City" if q.startswith("q2") else "Merchant_Name"
        return {"rows": n, "keys": [r[key] for r in result],
                "vnd": sum(r["total_vnd"] for r in result)}
    if q in ("q4_fraud_rate_by", "q7_fraud_trend"):
        return {"rows": n, "sum": sum(r["n_fraud"] for r in result)}
    if q == "q5_rapid_transactions":
        return {"rows": n, "sum": sum(r["n_rapid"] for r in result),
                "sum2": sum(r["n_gaps"] for r in result)}
    if q == "q9_above_avg_flag_users":
        return {"rows": n, "sum": sum(r["n_flagged"] for r in result)}
    raise KeyError(q)


def matches(want: dict, got: dict) -> bool:
    for k, v in want.items():
        g = got.get(k)
        if isinstance(v, float):
            if g is None or abs(g - v) > 1e-9 * max(1.0, abs(v)):
                return False
        elif g != v:
            return False
    return True
