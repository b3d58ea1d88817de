"""A pure-Python model of the paper pipeline's row semantics — the
``transforms.clean`` derivations, the ``transforms.route`` predicates
and the Q0–Q9 aggregates of ``queries.transactions`` — plus a seeded
generator of raw transaction rows that mixes well-formed rows with the
malformed shapes each rule handles (FIXTURES.md §7).

The model is written from the documented semantics, not from the
Spark code, so the model tests pin the library against an independent
implementation on many generated batches (the session runs with
``spark.sql.session.timeZone=UTC``, so event times are UTC wall
clocks)."""

from __future__ import annotations

import calendar
import random
from collections import defaultdict
from datetime import date, datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

RATE = 25057.0
PROCESSED_AT = "2024-02-01 00:00:00"

_DAY_NAMES = [
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday",
    "Sunday",
]
_MERCHANTS = ["Target", "Uber", "Walgreens", "Starbucks Coffee", "Shell Oil", None]
_CITIES = [("Chicago", "IL"), ("New York", "NY"), ("Houston", "TX"),
           ("Rome", "XX"), (None, None)]
_CHIP = ["Chip Transaction", "Swipe Transaction", "Online Transaction"]
_ERRORS = ["", "", "", "", "Bad CVV", " Bad PIN ", "Technical Glitch", None]
_FRAUD = ["No"] * 8 + ["Yes", "Yes", " Yes", None]
_BAD_TS = ["not-a-timestamp", "", None, "2024-02-30T10:00:00", "2024-13-01T00:00:00"]
_EPOCH = datetime(2023, 12, 27)  # batches span the year boundary


def _amount(rng: random.Random) -> str | None:
    r = rng.random()
    cents = rng.randint(1, 600000)
    usd = f"{cents // 100:,}.{cents % 100:02d}"
    if r < 0.70:
        return f"${usd}"
    if r < 0.75:
        return f"-${usd}"
    if r < 0.79:
        return "$0.00"
    if r < 0.83:
        return None
    if r < 0.86:
        return "n/a"
    if r < 0.93:
        return f"{cents / 100:.2f}"  # no currency sign
    return f"${cents // 100:,}"  # whole dollars


def _card(rng: random.Random, user: str | None) -> str | None:
    r = rng.random()
    if r < 0.05:
        return "1234"
    if r < 0.08:
        return None
    if r < 0.10:
        return "45320151128303661"  # 17 digits: long enough
    base = 4532015112830000 + (int(user) if user is not None else 99) * 10
    return str(base + rng.randint(0, 1))


def raw_rows(seed: int, n: int = 160) -> list[tuple]:
    """``n`` raw rows in ``schemas.RAW_TRANSACTION_SCHEMA`` order. One
    row in five continues the previous row's user and card a few
    seconds to minutes later, so the per-card gap query (Q5) has
    bursts to find."""
    rng = random.Random(seed)
    rows: list[tuple] = []
    prev_t: datetime | None = None
    for _ in range(n):
        if rows and prev_t is not None and rng.random() < 0.2:
            user, card = rows[-1][0], rows[-1][1]
            t = prev_t + timedelta(seconds=rng.randint(0, 900))
        else:
            user = rng.choice(["0", "1", "2", "3", "4", "5", None] if rng.random() < 0.1
                              else ["0", "1", "2", "3", "4", "5"])
            card = _card(rng, user)
            t = _EPOCH + timedelta(seconds=rng.randint(0, 24 * 86400))
        r = rng.random()
        if r < 0.06:
            ts = rng.choice(_BAD_TS)
            prev_t = None
        else:
            fmt = "%Y-%m-%dT%H:%M:%S" if r < 0.85 else "%Y-%m-%d %H:%M:%S"
            ts = t.strftime(fmt)
            prev_t = t
        # The raw CSV calendar: usually the event's, sometimes a
        # different (valid or invalid) one, sometimes missing.
        y, m, d = t.year, t.month, t.day
        c = rng.random()
        if c < 0.05:
            m = 13
        elif c < 0.10:
            m, d = 2, 30
        elif c < 0.13:
            d = 0
        elif c < 0.16:
            y = None
        elif c < 0.20:
            m, d = 4, 30
        city, state = rng.choice(_CITIES)
        rows.append((
            user, card, y, m, d, t.strftime("%H:%M:%S"), _amount(rng),
            rng.choice(_CHIP), rng.choice(_MERCHANTS), city, state,
            rng.choice(["10001", "60601", "", None]),
            rng.choice(["5812", "5411", "4121"]),
            rng.choice(_ERRORS), rng.choice(_FRAUD), ts,
        ))
    return rows


# ---------------------------------------------------------------- clean


def _parse_ts(s: str | None) -> datetime | None:
    if s is None:
        return None
    for fmt in ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            pass
    return None


def _parse_amount(s: str | None) -> float | None:
    if s is None:
        return None
    try:
        return float(s.replace("$", "").replace(",", ""))
    except ValueError:
        return None


def _trim(s: str | None) -> str | None:
    return None if s is None else s.strip(" ")


def _raw_date_valid(y, m, d) -> bool:
    if y is None or m is None or d is None:
        return False
    try:
        date(y, m, d)
    except ValueError:
        return False
    return True


def clean_row(raw: tuple, rate: float = RATE, processed_at: str = PROCESSED_AT,
              validate_raw_date: bool = False) -> dict:
    """One raw row → the cleaned row's columns (``Transaction_Date`` as
    a ``yyyy-MM-dd HH:mm:ss`` string, plus ``epoch_s``)."""
    (user, card, y, m, d, _time, amount, chip, name, city, state, zip_,
     mcc, errors, fraud, ts) = raw
    t = _parse_ts(ts)
    usd = _parse_amount(amount)
    return {
        "User": user,
        "Card": card,
        "Amount_USD": usd,
        "Amount_VND": usd * rate if usd is not None and usd > 0 else None,
        "Exchange_Rate": int(rate),
        "Transaction_Date": None if t is None else t.strftime("%Y-%m-%d %H:%M:%S"),
        "epoch_s": None if t is None else calendar.timegm(t.timetuple()),
        "Year": None if t is None else t.year,
        "Month": None if t is None else t.month,
        "Day": None if t is None else t.day,
        "Hour": None if t is None else t.hour,
        "Minute": None if t is None else t.minute,
        "Date_Formatted": None if t is None else t.strftime("%d/%m/%Y"),
        "Time_Formatted": None if t is None else t.strftime("%H:%M:%S"),
        "Day_of_Week": None if t is None else _DAY_NAMES[t.weekday()],
        "Is_Weekend": "Yes" if t is not None and t.weekday() >= 5 else "No",
        "DateTime_Hour_Key": None if t is None else t.strftime("%Y-%m-%d-%H"),
        "Use_Chip": chip,
        "Merchant_Name": name,
        "Merchant_City": city,
        "Merchant_State": state,
        "Zip": zip_,
        "MCC": mcc,
        "Errors": _trim(errors),
        "Is_Fraud": _trim(fraud),
        "Processed_Timestamp": processed_at,
        "is_valid_date": _raw_date_valid(y, m, d) if validate_raw_date else t is not None,
    }


# ---------------------------------------------------------------- route


def _has_error(r: dict) -> bool:
    return r["Errors"] is not None and r["Errors"] != ""


def _well_formed(r: dict) -> bool:
    return (
        r["User"] is not None
        and r["Card"] is not None
        and len(r["Card"]) >= 16
        and r["Amount_USD"] is not None
        and r["Amount_USD"] > 0
        and r["is_valid_date"]
    )


def route_ids(rows: list[dict], mode: str) -> dict[str, list[int]]:
    """Row indices in each of the four sinks (SQL three-valued logic:
    a null comparison never satisfies a filter)."""
    out: dict[str, list[int]] = {"valid": [], "fraud": [], "error": [], "invalid": []}
    for i, r in enumerate(rows):
        fraud = r["Is_Fraud"] == "Yes"
        if _has_error(r):
            out["error"].append(i)
        if fraud:
            out["fraud"].append(i)
        if mode == "reference":
            if _well_formed(r):
                out["valid"].append(i)
            usd, card = r["Amount_USD"], r["Card"]
            bad = (
                usd is None
                or usd <= 0
                or (card is not None and len(card) < 16)
                or not r["is_valid_date"]
            )
            if not _has_error(r) and r["Is_Fraud"] == "No" and bad:
                out["invalid"].append(i)
        else:
            # spec mode: ``~is_fraud`` is null (so false) for a null flag
            if _well_formed(r) and r["Is_Fraud"] is not None and not fraud and not _has_error(r):
                out["valid"].append(i)
            if (not _has_error(r) and r["Is_Fraud"] is not None and not fraud
                    and not _well_formed(r)):
                out["invalid"].append(i)
    return out


def invalid_reason(r: dict) -> str:
    return "Invalid Date" if not r["is_valid_date"] else "Data format invalid or missing"


# ---------------------------------------------------------------- Q0–Q9


def _dec2(x: float) -> Decimal:
    """Spark's double → decimal(18,2) cast (HALF_UP on the shortest
    decimal string)."""
    return Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


def _round6(x: float | None) -> float | None:
    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _vnd_sum(rows) -> float | None:
    vals = [_dec2(r["Amount_VND"]) for r in rows if r["Amount_VND"] is not None]
    return float(sum(vals)) if vals else None


def _group(rows, key):
    g = defaultdict(list)
    for r in rows:
        g[key(r)].append(r)
    return g


def _asc_nulls_first(v):
    return (v is not None, v)


def _desc_nulls_last(v):
    return (v is None, -v if v is not None else 0)


def q0_merchant_rollup(rows):
    out = []
    levels = 5
    for lvl in range(levels):
        g = _group(rows, lambda r, n=4 - lvl: tuple(
            r[c] for c in ("Merchant_Name", "Year", "Month", "Day")[:n]))
        for k, rs in g.items():
            out.append(tuple(k) + (None,) * lvl + (_vnd_sum(rs), len(rs)))
    return out


def q1_busiest_hours(rows):
    g = _group(rows, lambda r: r["Hour"])
    res = [(h, len(rs)) for h, rs in g.items()]
    return sorted(res, key=lambda t: (-t[1], _asc_nulls_first(t[0])))


def q1b_anomalous_hours(rows, k_sigma=2.0):
    counts = [(h, len(rs)) for h, rs in _group(rows, lambda r: r["Hour"]).items()]
    if len(counts) < 2:
        return []
    ns = [float(n) for _, n in counts]
    mu = sum(ns) / len(ns)
    sigma = (sum((x - mu) ** 2 for x in ns) / (len(ns) - 1)) ** 0.5
    return [(h, n) for h, n in counts if float(n) > mu + k_sigma * sigma]


def q2_top_cities_by_value(rows, k=10):
    g = _group(rows, lambda r: r["Merchant_City"])
    res = [(c, _vnd_sum(rs)) for c, rs in g.items()]
    res.sort(key=lambda t: (_desc_nulls_last(t[1]), _asc_nulls_first(t[0])))
    return res[:k]


def q3_top_merchants(rows, k=10, by="value"):
    g = _group(rows, lambda r: r["Merchant_Name"])
    res = [(m, len(rs), _vnd_sum(rs)) for m, rs in g.items()]
    if by == "value":
        res.sort(key=lambda t: (_desc_nulls_last(t[2]), _asc_nulls_first(t[0])))
    else:
        res.sort(key=lambda t: (-t[1], _asc_nulls_first(t[0])))
    return res[:k]


def q4_fraud_rate_by(rows, dim="Merchant_City"):
    out = []
    for k, rs in _group(rows, lambda r: r[dim]).items():
        nf = sum(1 for r in rs if r["Is_Fraud"] == "Yes")
        out.append((k, len(rs), nf, _round6(nf / len(rs))))
    return out


def q5_rapid_transactions(rows, gap_seconds=300):
    per_user: dict = defaultdict(list)
    for (user, _card), rs in _group(rows, lambda r: (r["User"], r["Card"])).items():
        ts = sorted(r["epoch_s"] for r in rs if r["epoch_s"] is not None)
        per_user[user].extend(b - a for a, b in zip(ts, ts[1:]))
    out = []
    for user, gaps in per_user.items():
        n_rapid = sum(1 for g in gaps if g < gap_seconds)
        if gaps and n_rapid > 0:
            out.append((user, n_rapid, len(gaps)))
    return out


def q6_large_txn_profile(rows, threshold_usd=500.0):
    big = [r for r in rows if r["Amount_USD"] is not None and r["Amount_USD"] > threshold_usd]
    g = _group(big, lambda r: (r["Hour"], r["Merchant_City"]))
    return [k + (len(rs), _vnd_sum(rs)) for k, rs in g.items()]


def q7_fraud_trend(rows, dim="Hour"):
    fraud = [r for r in rows if r["Is_Fraud"] == "Yes"]
    return [(k, len(rs), _vnd_sum(rs)) for k, rs in _group(fraud, lambda r: r[dim]).items()]


def q8_weekend_comparison(rows):
    out = []
    for k, rs in _group(rows, lambda r: r["Is_Weekend"]).items():
        total = _vnd_sum(rs)
        out.append((k, len(rs), total, None if total is None else _round6(total / len(rs))))
    return out


def q9_above_avg_flag_users(rows, flag="fraud"):
    def cond(r):
        return r["Is_Fraud"] == "Yes" if flag == "fraud" else _has_error(r)

    per_user = [(u, sum(1 for r in rs if cond(r)))
                for u, rs in _group(rows, lambda r: r["User"]).items()]
    mu = sum(float(n) for _, n in per_user) / len(per_user)
    return [(u, n) for u, n in per_user if float(n) > mu]
