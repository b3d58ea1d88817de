"""DuckDB-oracle tests for the reference Q0-Q9 transaction queries:
clean the in-repo fixture rows (tests/fixtures.py ``query_rows``),
persist the processed fact, and run each Spark query against
equivalent SQL in DuckDB over the same parquet."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from olap_project_spark.queries import transactions as T
from olap_project_spark.schemas import RAW_TRANSACTION_SCHEMA
from olap_project_spark.transforms import clean
from tests.fixtures import query_rows, raw_transactions_df

FIXED_TS = "2024-01-15 08:30:20"


@pytest.fixture(scope="module")
def fact(spark, tmp_path_factory):
    """Cleaned transaction fact, persisted to parquet for DuckDB."""
    raw = raw_transactions_df(spark, query_rows())
    df = clean(raw, rate=25057.0, processed_at=FIXED_TS)
    path = str(tmp_path_factory.mktemp("fact") / "txns.parquet")
    df.write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW txns AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return df, con


def _none_safe_key(t):
    return tuple((v is None, v) for v in t)


def rows_of(df, cols):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()), key=_none_safe_key
    )


def sql_rows(con, sql):
    return sorted(
        (tuple(r) for r in con.execute(sql).fetchall()), key=_none_safe_key
    )


def approx_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def assert_rows_match(spark_rows, duck_rows):
    assert spark_rows, "query returned no rows on the fixture"
    assert len(spark_rows) == len(duck_rows)
    for s, d in zip(spark_rows, duck_rows):
        assert len(s) == len(d) and all(approx_eq(x, y) for x, y in zip(s, d)), (s, d)


class TestTransactionQueries:
    def test_q0_rollup(self, fact):
        df, con = fact
        got = rows_of(
            T.q0_merchant_rollup(df), ["Merchant_Name", "Year", "Month", "Day", "total_vnd", "n_txns"]
        )
        want = sql_rows(con, """
            SELECT Merchant_Name, Year, Month, Day,
                   CAST(SUM(CAST(Amount_VND AS DECIMAL(18,2))) AS DOUBLE) AS total_vnd,
                   COUNT(*) AS n_txns
            FROM txns GROUP BY ROLLUP (Merchant_Name, Year, Month, Day)
        """)
        assert_rows_match(got, want)

    def test_q1_busiest_hours(self, fact):
        df, con = fact
        got = rows_of(T.q1_busiest_hours(df), ["Hour", "n_txns"])
        want = sql_rows(con, "SELECT Hour, COUNT(*) FROM txns GROUP BY Hour")
        assert_rows_match(got, want)

    def test_q1b_anomalous_hours(self, fact):
        df, con = fact
        got = rows_of(T.q1b_anomalous_hours(df), ["Hour", "n_txns"])
        want = sql_rows(con, """
            WITH hourly AS (SELECT Hour, COUNT(*) n FROM txns GROUP BY Hour),
            s AS (SELECT AVG(CAST(n AS DOUBLE)) mu, stddev_samp(CAST(n AS DOUBLE)) sigma FROM hourly)
            SELECT Hour, n FROM hourly, s WHERE CAST(n AS DOUBLE) > mu + 2*sigma
        """)
        assert_rows_match(got, want)

    def test_q2_top_cities(self, fact):
        df, con = fact
        got = rows_of(T.q2_top_cities_by_value(df, 5), ["Merchant_City", "total_vnd"])
        want = sql_rows(con, """
            SELECT Merchant_City,
                   CAST(SUM(CAST(Amount_VND AS DECIMAL(18,2))) AS DOUBLE)
            FROM txns GROUP BY 1
            ORDER BY 2 DESC, 1 LIMIT 5
        """)
        assert_rows_match(got, want)

    def test_q3_top_merchants_both_orders(self, fact):
        df, con = fact
        for by, order in (("value", "total_vnd"), ("count", "n_txns")):
            got = rows_of(
                T.q3_top_merchants(df, 5, by=by), ["Merchant_Name", "n_txns", "total_vnd"]
            )
            want = sql_rows(con, f"""
                SELECT Merchant_Name, COUNT(*) AS n_txns,
                       CAST(SUM(CAST(Amount_VND AS DECIMAL(18,2))) AS DOUBLE) AS total_vnd
                FROM txns GROUP BY 1
                ORDER BY {order} DESC, Merchant_Name LIMIT 5
            """)
            assert_rows_match(got, want)

    def test_q4_fraud_rates(self, fact):
        df, con = fact
        got = rows_of(
            T.q4_fraud_rate_by(df, "Merchant_City"),
            ["Merchant_City", "n_txns", "n_fraud", "fraud_rate"],
        )
        want = sql_rows(con, """
            SELECT Merchant_City, COUNT(*),
                   CAST(SUM(CASE WHEN Is_Fraud='Yes' THEN 1 ELSE 0 END) AS BIGINT),
                   ROUND(CAST(SUM(CASE WHEN Is_Fraud='Yes' THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*), 6)
            FROM txns GROUP BY 1
        """)
        assert_rows_match(got, want)

    def test_q5_rapid_transactions(self, fact):
        df, con = fact
        got = rows_of(T.q5_rapid_transactions(df, 3600 * 4), ["User", "n_rapid", "n_gaps"])
        want = sql_rows(con, """
            WITH seq AS (
              SELECT "User",
                     epoch(Transaction_Date
                           - lag(Transaction_Date) OVER (
                               PARTITION BY "User", Card ORDER BY Transaction_Date)) AS gap_s
              FROM txns
            )
            SELECT "User",
                   CAST(SUM(CASE WHEN gap_s < 14400 THEN 1 ELSE 0 END) AS BIGINT) AS n_rapid,
                   COUNT(gap_s) AS n_gaps
            FROM seq WHERE gap_s IS NOT NULL
            GROUP BY 1 HAVING SUM(CASE WHEN gap_s < 14400 THEN 1 ELSE 0 END) > 0
        """)
        assert_rows_match(got, want)

    def test_q6_large_profile(self, fact):
        df, con = fact
        got = rows_of(
            T.q6_large_txn_profile(df), ["Hour", "Merchant_City", "n_txns", "total_vnd"]
        )
        want = sql_rows(con, """
            SELECT Hour, Merchant_City, COUNT(*),
                   CAST(SUM(CAST(Amount_VND AS DECIMAL(18,2))) AS DOUBLE)
            FROM txns WHERE Amount_USD > 500 GROUP BY 1, 2
        """)
        assert_rows_match(got, want)

    def test_q7_fraud_trend(self, fact):
        df, con = fact
        got = rows_of(T.q7_fraud_trend(df, "Hour"), ["Hour", "n_fraud", "fraud_vnd"])
        want = sql_rows(con, """
            SELECT Hour, COUNT(*),
                   CAST(SUM(CAST(Amount_VND AS DECIMAL(18,2))) AS DOUBLE)
            FROM txns WHERE Is_Fraud='Yes' GROUP BY 1
        """)
        assert_rows_match(got, want)

    def test_q8_weekend(self, fact):
        df, con = fact
        got = rows_of(T.q8_weekend_comparison(df), ["Is_Weekend", "n_txns", "total_vnd", "avg_vnd"])
        want = sql_rows(con, """
            SELECT Is_Weekend, COUNT(*),
                   CAST(SUM(CAST(Amount_VND AS DECIMAL(18,2))) AS DOUBLE),
                   ROUND(CAST(SUM(CAST(Amount_VND AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*), 6)
            FROM txns GROUP BY 1
        """)
        assert_rows_match(got, want)

    def test_q9_above_avg_users(self, fact):
        df, con = fact
        for flag, cond in (("fraud", "Is_Fraud='Yes'"),
                           ("error", "Errors IS NOT NULL AND Errors <> ''")):
            got = rows_of(T.q9_above_avg_flag_users(df, flag), ["User", "n_flagged"])
            want = sql_rows(con, f"""
                WITH pu AS (
                  SELECT "User",
                         CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n
                  FROM txns GROUP BY 1
                )
                SELECT "User", n FROM pu
                WHERE CAST(n AS DOUBLE) > (SELECT AVG(CAST(n AS DOUBLE)) FROM pu)
            """)
            assert_rows_match(got, want)


def test_reference_sample_golden_stats(spark, raw_transactions_csv):
    """The documented stats of the reference's own sample hold: 7 fraud,
    4 error, 24 weekend txns (sample_data/README.md:49-51). Runs only
    where the reference sample is present."""
    raw = (
        spark.read.option("header", True)
        .schema(RAW_TRANSACTION_SCHEMA)
        .csv(raw_transactions_csv)
        .withColumn(
            "timestamp",
            F.format_string("%04d-%02d-%02dT%s", "Year", "Month", "Day", "Time"),
        )
    )
    df = clean(raw, rate=25057.0, processed_at=FIXED_TS)
    assert df.filter(F.col("Is_Fraud") == "Yes").count() == 7
    assert df.filter((F.col("Errors").isNotNull()) & (F.col("Errors") != "")).count() == 4
    assert df.filter(F.col("Is_Weekend") == "Yes").count() == 24
