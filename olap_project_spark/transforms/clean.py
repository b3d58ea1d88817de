"""The clean/enrich transform — the streaming pipeline's core, as a pure
batch-compatible DataFrame function.

Reproduces the semantics of the reference's ``process_stream`` projection
stack (scripts/spark_streaming_consumer.py:200-252) with every Python UDF
replaced by a native Catalyst expression (SURVEY.md §2.2 P3-P16, §2.10):

- P11 day-of-week-name UDF      → ``date_format(ts, 'EEEE')``
- P12 weekend-flag UDF          → ``when(dayofweek(ts).isin(1,7), 'Yes')``
- P13 hour-bucket-key UDF       → ``date_format(ts, 'yyyy-MM-dd-HH')``
- P14 currency-conversion UDF   → ``when(usd > 0, usd * rate)``

This keeps the whole transform inside whole-stage codegen — no
JVM↔Python serialization per micro-batch (the reference paid that cost
four times per row, :214-218). The same function serves batch and
Structured Streaming inputs unchanged.

Case-sensitivity note (SURVEY.md §1.3): the reference derives lowercase
``year/month/day/hour/minute`` which *replace* the raw capitalized CSV
columns under Spark's case-insensitive resolver, so its later
``make_date(Year, Month, Day)`` actually validates the *derived* calendar
(i.e. "did the event timestamp parse"). We use one canonical casing and
implement exactly that semantic; ``validate_raw_date=True`` opts into the
spec-correct check of the raw CSV Year/Month/Day instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olap_project_spark.schemas import DEFAULT_VND_PER_USD, OUTPUT_COLUMNS

# Raw → canonical column renames (reference P2, :243-248).
RENAMES = {
    "Use Chip": "Use_Chip",
    "Merchant Name": "Merchant_Name",
    "Merchant City": "Merchant_City",
    "Merchant State": "Merchant_State",
}


def parse_amount(amount: Column) -> Column:
    """``"$1,234.50"`` → 1234.50 (double). Null-safe; malformed → null
    even under ANSI sessions (P3)."""
    return F.regexp_replace(amount, r"[$,]", "").try_cast("double")


def usd_to_vnd(amount_usd: Column, rate: Column | float) -> Column:
    """Currency conversion with the reference UDF's null contract
    (:72-86): null or non-positive USD → null VND."""
    rate_col = rate if isinstance(rate, Column) else F.lit(float(rate))
    return F.when(amount_usd > 0, amount_usd * rate_col)


def clean(
    raw: DataFrame,
    rate: float = DEFAULT_VND_PER_USD,
    processed_at: str | None = None,
    validate_raw_date: bool = False,
) -> DataFrame:
    """Parse, clean, and enrich raw transactions.

    Works identically on batch and streaming DataFrames (no stateful ops).
    All expressions are JVM-native — ``explain()`` shows one
    WholeStageCodegen span over the whole projection.

    Args:
        raw: DataFrame with ``schemas.RAW_TRANSACTION_SCHEMA`` columns.
        rate: VND-per-USD rate. For the spec-correct daily rate, join
            ``sources.rates.daily_rates_df`` instead (enrich module).
        processed_at: fixed ``yyyy-MM-dd HH:mm:ss`` string for
            deterministic tests; None → wall clock (reference P15).
        validate_raw_date: False (reference mode) validates the derived
            event-timestamp calendar; True (spec mode) validates the raw
            CSV Year/Month/Day via ``make_date``.
    """
    # Validate the raw CSV calendar without ANSI make_date errors. The
    # non-ANSI parser is *lenient* (2024-02-30 rolls to 2024-03-01), so
    # require the parsed date to round-trip back to the original string.
    raw_date_str = F.format_string(
        "%04d-%02d-%02d",
        F.col("Year").cast("int"),
        F.col("Month").cast("int"),
        F.col("Day").cast("int"),
    )
    raw_date_parsed = F.try_to_date(raw_date_str, "yyyy-MM-dd")
    # Inner projection: the event time is parsed once, not once per
    # derived column, and the raw calendar is checked before the outer
    # projection replaces Year/Month/Day with the derived one.
    parsed = raw.withColumns({
        "_ts": F.try_to_timestamp(F.col("timestamp")),
        "_raw_date_valid": F.coalesce(
            F.date_format(raw_date_parsed, "yyyy-MM-dd") == raw_date_str, F.lit(False)
        ),
    })
    ts = F.col("_ts")
    dow = F.dayofweek(ts)  # 1=Sunday .. 7=Saturday
    processed_ts = (
        F.lit(processed_at)
        if processed_at is not None
        else F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")
    )
    amount_usd = parse_amount(F.col("Amount"))
    derived = {
        "Amount_USD": amount_usd,
        "Amount_VND": usd_to_vnd(amount_usd, rate),
        "Exchange_Rate": F.lit(int(rate)),
        "Transaction_Date": ts,
        # Canonical calendar derived from event time (replaces raw Y/M/D
        # in place, matching the reference's case-insensitive overwrite,
        # §1.3).
        "Year": F.year(ts),
        "Month": F.month(ts),
        "Day": F.dayofmonth(ts),
        "Hour": F.hour(ts),
        "Minute": F.minute(ts),
        "Date_Formatted": F.date_format(ts, "dd/MM/yyyy"),
        "Time_Formatted": F.date_format(ts, "HH:mm:ss"),
        "Day_of_Week": F.date_format(ts, "EEEE"),
        "Is_Weekend": F.when(dow.isin(1, 7), F.lit("Yes")).otherwise(F.lit("No")),
        "DateTime_Hour_Key": F.date_format(ts, "yyyy-MM-dd-HH"),
        **{new: F.col(f"`{old}`") for old, new in RENAMES.items()},
        "Errors": F.trim(F.col("`Errors?`")),
        "Is_Fraud": F.trim(F.col("`Is Fraud?`")),
        "Processed_Timestamp": processed_ts,
        "is_valid_date": F.col("_raw_date_valid")
        if validate_raw_date
        # Reference mode: the derived calendar is whatever the event
        # timestamp parsed to, so validity == "timestamp parsed".
        else F.make_date(F.year(ts), F.month(ts), F.dayofmonth(ts)).isNotNull(),
    }
    gone = {*RENAMES, "Errors?", "Is Fraud?"}
    kept = [
        derived.pop(c).alias(c) if c in derived else F.col(f"`{c}`")
        for c in raw.columns
        if c not in gone
    ]
    return parsed.select(*kept, *(e.alias(c) for c, e in derived.items()))


def to_output(df: DataFrame) -> DataFrame:
    """The 21-column warehouse projection (reference :415-437)."""
    return df.select(*OUTPUT_COLUMNS)


def to_output_v1(df: DataFrame) -> DataFrame:
    """The 24-column v1 golden projection (adds Transaction_Date,
    Date_Formatted, Time_Formatted — sample_data/processed_transactions.csv:1)."""
    from olap_project_spark.schemas import V1_EXTRA_COLUMNS

    return df.select(*(OUTPUT_COLUMNS + V1_EXTRA_COLUMNS))
