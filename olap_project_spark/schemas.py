"""Canonical schemas for the engine.

The reference declares its input schema at
scripts/spark_streaming_consumer.py:158-175 (16 nullable fields; ``Amount``
kept as string because raw values carry ``$``) and its 21-column output
projection at :415-437 / airflow/dags/bigquery_update_scheduler.py:34-56.
We re-declare both canonically here (one casing, one source of truth) —
see SURVEY.md §1.2.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Raw transaction record as produced by the POS feed (CSV header or Kafka
# JSON value). Column names with special characters ("Use Chip",
# "Errors?", "Is Fraud?") are preserved at ingest and renamed by
# transforms.clean — matching reference behavior (P2, SURVEY.md §2.2).
RAW_TRANSACTION_SCHEMA = StructType(
    [
        StructField("User", StringType(), True),
        StructField("Card", StringType(), True),
        StructField("Year", IntegerType(), True),
        StructField("Month", IntegerType(), True),
        StructField("Day", IntegerType(), True),
        StructField("Time", StringType(), True),
        StructField("Amount", StringType(), True),  # "$1,234.50" — cleaned by P3
        StructField("Use Chip", StringType(), True),
        StructField("Merchant Name", StringType(), True),
        StructField("Merchant City", StringType(), True),
        StructField("Merchant State", StringType(), True),
        StructField("Zip", StringType(), True),
        StructField("MCC", StringType(), True),
        StructField("Errors?", StringType(), True),
        StructField("Is Fraud?", StringType(), True),
        StructField("timestamp", StringType(), True),  # ISO-8601 event time
    ]
)

# The 21-column processed/warehouse projection (v2 golden shape).
OUTPUT_COLUMNS = [
    "DateTime_Hour_Key",
    "User",
    "Card",
    "Year",
    "Month",
    "Day",
    "Hour",
    "Day_of_Week",
    "Is_Weekend",
    "Amount_USD",
    "Amount_VND",
    "Exchange_Rate",
    "Use_Chip",
    "Merchant_Name",
    "Merchant_City",
    "Merchant_State",
    "Zip",
    "MCC",
    "Errors",
    "Is_Fraud",
    "Processed_Timestamp",
]

# The Hive-style ``Year=/Month=/Day=`` directories of the partitioned
# sinks and the warehouse; their files hold the other columns.
PARTITION_COLUMNS = ["Year", "Month", "Day"]
DATA_COLUMNS = [c for c in OUTPUT_COLUMNS if c not in PARTITION_COLUMNS]

# v1 golden adds these three (sample_data/processed_transactions.csv:1).
V1_EXTRA_COLUMNS = ["Transaction_Date", "Date_Formatted", "Time_Formatted"]

# Audit/dead-letter projection (scripts/spark_streaming_consumer.py:377).
INVALID_LOG_COLUMNS = ["Card", "User", "Amount_USD", "invalid_reason", "timestamp"]

# Daily exchange-rate dimension (FIXTURES.md §4): one row per date.
EXCHANGE_RATE_SCHEMA = StructType(
    [
        StructField("rate_date", StringType(), False),  # yyyy-MM-dd
        StructField("rate_vnd_per_usd", DoubleType(), False),
    ]
)

# Reference fallback rate (scripts/exchange_rate_service.py:18).
DEFAULT_VND_PER_USD = 25057.0
