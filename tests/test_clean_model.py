"""``transforms.clean``, ``transforms.route`` and
``transforms.enrich_with_daily_rates`` against the pure-Python model in
``tests/txn_model.py``, on seeded generated batches that mix
well-formed rows with every malformed shape the rules handle
(FIXTURES.md §7): each cleaned column, each sink's membership in both
routing modes, the audit reason, and the per-day rate join."""

from __future__ import annotations

from datetime import date, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from olap_project_spark.schemas import (
    DEFAULT_VND_PER_USD,
    EXCHANGE_RATE_SCHEMA,
    RAW_TRANSACTION_SCHEMA,
)
from olap_project_spark.transforms import clean, route
from olap_project_spark.transforms.enrich import enrich_with_daily_rates
from tests import txn_model as M

SEEDS = [11, 22, 33, 44, 55]

COLUMNS = [
    "User", "Card", "Amount_USD", "Amount_VND", "Exchange_Rate",
    "Transaction_Date", "Year", "Month", "Day", "Hour", "Minute",
    "Date_Formatted", "Time_Formatted", "Day_of_Week", "Is_Weekend",
    "DateTime_Hour_Key", "Use_Chip", "Merchant_Name", "Merchant_City",
    "Merchant_State", "Zip", "MCC", "Errors", "Is_Fraud",
    "Processed_Timestamp", "is_valid_date",
]

_RAW_WITH_ID = StructType(
    RAW_TRANSACTION_SCHEMA.fields + [StructField("rid", IntegerType(), False)]
)


def raw_df(spark, seed):
    rows = [r + (i,) for i, r in enumerate(M.raw_rows(seed))]
    return spark.createDataFrame(rows, _RAW_WITH_ID)


def _project(df):
    """Cleaned columns by name, with the event time as a UTC wall-clock
    string so the comparison does not depend on the host time zone."""
    return df.select(
        "rid",
        *[
            F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c)
            if c == "Transaction_Date" else F.col(c)
            for c in COLUMNS
        ],
    )


@pytest.fixture(scope="module")
def batch(spark):
    memo = {}

    def get(seed, validate_raw_date=False):
        key = (seed, validate_raw_date)
        if key not in memo:
            cleaned = clean(raw_df(spark, seed), rate=M.RATE,
                            processed_at=M.PROCESSED_AT,
                            validate_raw_date=validate_raw_date)
            got = sorted(_project(cleaned).collect(), key=lambda r: r["rid"])
            want = [M.clean_row(r, validate_raw_date=validate_raw_date)
                    for r in M.raw_rows(seed)]
            memo[key] = (cleaned, got, want)
        return memo[key]

    return get


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("column", COLUMNS)
def test_clean_column_matches_model(batch, seed, column):
    _, got, want = batch(seed)
    assert [r["rid"] for r in got] == list(range(len(want)))
    assert [r[column] for r in got] == [w[column] for w in want]


@pytest.mark.parametrize("seed", SEEDS)
def test_raw_calendar_validity_matches_model(batch, seed):
    """``validate_raw_date=True`` checks the raw CSV Year/Month/Day
    (missing parts, month 13, day 0, Feb 30 and Apr 30 are generated)."""
    _, got, want = batch(seed, validate_raw_date=True)
    flags = [r["is_valid_date"] for r in got]
    assert flags == [w["is_valid_date"] for w in want]
    assert True in flags and False in flags


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("sink", ["valid", "fraud", "error", "invalid"])
@pytest.mark.parametrize("mode", ["reference", "spec"])
def test_route_matches_model(batch, mode, sink, seed):
    cleaned, _, want = batch(seed)
    got = sorted(r["rid"] for r in route(cleaned, mode)[sink].select("rid").collect())
    assert got == M.route_ids(want, mode)[sink]
    assert got, f"{sink} sink empty on seed {seed}"


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("mode", ["reference", "spec"])
def test_invalid_reason_matches_model(batch, mode, seed):
    cleaned, _, want = batch(seed)
    got = sorted(
        (r["rid"], r["invalid_reason"])
        for r in route(cleaned, mode)["invalid"].select("rid", "invalid_reason").collect()
    )
    ids = M.route_ids(want, mode)["invalid"]
    assert got == [(i, M.invalid_reason(want[i])) for i in ids]
    assert {reason for _, reason in got} == {
        "Invalid Date", "Data format invalid or missing"}


def _day_rates(seed):
    """A rate for most days of the batch's span; every fourth day is a
    feed gap (no row), which falls back to the default rate."""
    out = {}
    d = date(2023, 12, 27)
    for i in range(26):
        if i % 4 != 3:
            out[d.isoformat()] = 24000.0 + 37.25 * ((i * seed) % 41)
        d += timedelta(days=1)
    return out


@pytest.fixture(scope="module")
def enriched(spark):
    memo = {}

    def get(seed):
        if seed not in memo:
            rates = _day_rates(seed)
            dim = spark.createDataFrame(sorted(rates.items()), EXCHANGE_RATE_SCHEMA)
            df = enrich_with_daily_rates(raw_df(spark, seed), dim,
                                         processed_at=M.PROCESSED_AT)
            got = sorted(df.select("rid", "Amount_VND", "Exchange_Rate").collect(),
                         key=lambda r: r["rid"])
            want = []
            for raw in M.raw_rows(seed):
                row = M.clean_row(raw)
                day = row["Transaction_Date"] and row["Transaction_Date"][:10]
                rate = rates.get(day, DEFAULT_VND_PER_USD)
                usd = row["Amount_USD"]
                want.append({
                    "Amount_VND": usd * rate if usd is not None and usd > 0 else None,
                    "Exchange_Rate": int(rate),
                })
            memo[seed] = (got, want)
        return memo[seed]

    return get


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("column", ["Amount_VND", "Exchange_Rate"])
def test_enrich_daily_rate_matches_model(enriched, column, seed):
    got, want = enriched(seed)
    assert [r["rid"] for r in got] == list(range(len(want)))
    assert [r[column] for r in got] == [w[column] for w in want]
    if column == "Exchange_Rate":
        # both joined days and gap days occur
        assert int(DEFAULT_VND_PER_USD) in {w[column] for w in want}
        assert len({w[column] for w in want}) > 2
