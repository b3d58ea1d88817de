"""The Q0–Q9 functions of ``queries.transactions`` against the
pure-Python model in ``tests/txn_model.py``, over cleaned seeded
batches (FIXTURES.md §7): every query and parameter form the module
offers, on several batches, so ties, null groups (unparsed event time,
missing city or merchant) and all-null value sums are all met.

Ranked queries (Q1, Q2, Q3) are compared in order; the rest as
multisets."""

from __future__ import annotations

import math

import pytest

from olap_project_spark.queries import transactions as T
from olap_project_spark.schemas import RAW_TRANSACTION_SCHEMA
from olap_project_spark.transforms import clean
from tests import txn_model as M

SEEDS = [101, 202, 303, 404, 505, 606, 707, 808]

# id, Spark query, model query, result columns, compared in order
CASES = [
    ("q0_rollup", T.q0_merchant_rollup, M.q0_merchant_rollup,
     ["Merchant_Name", "Year", "Month", "Day", "total_vnd", "n_txns"], False),
    ("q1_busiest_hours", T.q1_busiest_hours, M.q1_busiest_hours,
     ["Hour", "n_txns"], True),
    ("q1b_k2", T.q1b_anomalous_hours, M.q1b_anomalous_hours,
     ["Hour", "n_txns"], False),
    ("q1b_k0.5", lambda df: T.q1b_anomalous_hours(df, 0.5),
     lambda rows: M.q1b_anomalous_hours(rows, 0.5), ["Hour", "n_txns"], False),
    ("q2_top3", lambda df: T.q2_top_cities_by_value(df, 3),
     lambda rows: M.q2_top_cities_by_value(rows, 3),
     ["Merchant_City", "total_vnd"], True),
    ("q2_top10", T.q2_top_cities_by_value, M.q2_top_cities_by_value,
     ["Merchant_City", "total_vnd"], True),
    ("q3_by_value", lambda df: T.q3_top_merchants(df, 4),
     lambda rows: M.q3_top_merchants(rows, 4),
     ["Merchant_Name", "n_txns", "total_vnd"], True),
    ("q3_by_count", lambda df: T.q3_top_merchants(df, 4, by="count"),
     lambda rows: M.q3_top_merchants(rows, 4, by="count"),
     ["Merchant_Name", "n_txns", "total_vnd"], True),
    ("q4_by_city", T.q4_fraud_rate_by, M.q4_fraud_rate_by,
     ["Merchant_City", "n_txns", "n_fraud", "fraud_rate"], False),
    ("q4_by_merchant", lambda df: T.q4_fraud_rate_by(df, "Merchant_Name"),
     lambda rows: M.q4_fraud_rate_by(rows, "Merchant_Name"),
     ["Merchant_Name", "n_txns", "n_fraud", "fraud_rate"], False),
    ("q4_by_hour", lambda df: T.q4_fraud_rate_by(df, "Hour"),
     lambda rows: M.q4_fraud_rate_by(rows, "Hour"),
     ["Hour", "n_txns", "n_fraud", "fraud_rate"], False),
    ("q5_gap_300s", T.q5_rapid_transactions, M.q5_rapid_transactions,
     ["User", "n_rapid", "n_gaps"], False),
    ("q5_gap_1h", lambda df: T.q5_rapid_transactions(df, 3600),
     lambda rows: M.q5_rapid_transactions(rows, 3600),
     ["User", "n_rapid", "n_gaps"], False),
    ("q6_over_500", T.q6_large_txn_profile, M.q6_large_txn_profile,
     ["Hour", "Merchant_City", "n_txns", "total_vnd"], False),
    ("q6_over_2500", lambda df: T.q6_large_txn_profile(df, 2500.0),
     lambda rows: M.q6_large_txn_profile(rows, 2500.0),
     ["Hour", "Merchant_City", "n_txns", "total_vnd"], False),
    ("q7_by_hour", T.q7_fraud_trend, M.q7_fraud_trend,
     ["Hour", "n_fraud", "fraud_vnd"], False),
    ("q7_by_city", lambda df: T.q7_fraud_trend(df, "Merchant_City"),
     lambda rows: M.q7_fraud_trend(rows, "Merchant_City"),
     ["Merchant_City", "n_fraud", "fraud_vnd"], False),
    ("q8_weekend", T.q8_weekend_comparison, M.q8_weekend_comparison,
     ["Is_Weekend", "n_txns", "total_vnd", "avg_vnd"], False),
    ("q9_fraud", T.q9_above_avg_flag_users, M.q9_above_avg_flag_users,
     ["User", "n_flagged"], False),
    ("q9_error", lambda df: T.q9_above_avg_flag_users(df, "error"),
     lambda rows: M.q9_above_avg_flag_users(rows, "error"),
     ["User", "n_flagged"], False),
]


@pytest.fixture(scope="module")
def fact(spark):
    memo = {}

    def get(seed):
        if seed not in memo:
            raw = M.raw_rows(seed)
            df = clean(spark.createDataFrame(raw, RAW_TRANSACTION_SCHEMA),
                       rate=M.RATE, processed_at=M.PROCESSED_AT)
            memo[seed] = (df, [M.clean_row(r) for r in raw])
        return memo[seed]

    return get


def _none_safe_key(t):
    return tuple((v is None, v) for v in t)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-12)
    return a == b and type(a) is type(b)


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize(
    "spark_q,model_q,cols,ordered",
    [c[1:] for c in CASES],
    ids=[c[0] for c in CASES],
)
def test_query_matches_model(fact, seed, spark_q, model_q, cols, ordered):
    df, rows = fact(seed)
    got = [tuple(r[c] for c in cols) for r in spark_q(df).collect()]
    want = [tuple(t) for t in model_q(rows)]
    if not ordered:
        got.sort(key=_none_safe_key)
        want.sort(key=_none_safe_key)
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w)), (g, w)
