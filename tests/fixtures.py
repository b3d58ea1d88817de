"""Synthetic raw-transaction rows exercising every routing path
(FIXTURES.md §1). Self-contained — no dependency on the reference repo."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from olap_project_spark.schemas import RAW_TRANSACTION_SCHEMA

GOOD_CARD = "4532015112830366"


def _row(
    user="0",
    card=GOOD_CARD,
    year=2024,
    month=1,
    day=15,
    time="08:30:15",
    amount="$125.50",
    chip="Chip Transaction",
    name="Starbucks Coffee",
    city="New York",
    state="NY",
    zip_="10001",
    mcc="5812",
    errors="",
    fraud="No",
    ts="2024-01-15T08:30:15",
):
    return (
        user, card, year, month, day, time, amount, chip, name, city,
        state, zip_, mcc, errors, fraud, ts,
    )


def sample_rows():
    return [
        # plain valid weekday row
        _row(),
        # valid weekend row (2024-01-13 is a Saturday)
        _row(user="1", day=13, ts="2024-01-13T10:00:00", amount="$1,000.00"),
        # fraud but otherwise well-formed → valid∩fraud in reference mode
        _row(user="2", fraud="Yes", amount="$999.99", ts="2024-01-14T23:59:59", day=14),
        # error row (also well-formed)
        _row(user="3", errors="Bad CVV", ts="2024-01-16T12:00:00", day=16),
        # short card → invalid
        _row(user="4", card="1234", ts="2024-01-17T01:02:03", day=17),
        # null amount → invalid
        _row(user="5", amount=None, ts="2024-01-18T05:06:07", day=18),
        # negative amount → invalid (VND must be null)
        _row(user="6", amount="-$5.00", ts="2024-01-18T06:07:08", day=18),
        # zero amount → invalid (VND null)
        _row(user="7", amount="$0.00", ts="2024-01-19T07:08:09", day=19),
        # unparseable timestamp → invalid date (reference mode)
        _row(user="8", ts="not-a-timestamp"),
        # null User: NOT valid, NOT invalid in reference mode (§1.3)
        _row(user=None, ts="2024-01-20T10:00:00", day=20),
        # fraud with garbage amount: fraud stream only, never audited
        _row(user="9", fraud="Yes", amount=None, ts="2024-01-20T11:00:00", day=20),
    ]


def query_rows():
    """``sample_rows()`` plus the rows the Q0–Q9 tests need beyond the
    routing paths (FIXTURES.md §1): a second city and merchant so the
    top-k queries rank, and one user/card with a 30-minute and a
    5.5-hour gap so Q5's rapid-transaction window has one hit and one
    miss."""
    return sample_rows() + [
        _row(user="10", day=22, time="09:00:00", ts="2024-01-22T09:00:00",
             amount="$40.00", name="Target", city="Chicago", state="IL"),
        _row(user="10", day=22, time="09:30:00", ts="2024-01-22T09:30:00",
             amount="$2,500.00", name="Target", city="Chicago", state="IL"),
        _row(user="10", day=22, time="15:00:00", ts="2024-01-22T15:00:00",
             amount="$15.25", name="Walgreens", city="Chicago", state="IL",
             fraud="Yes"),
    ]


def raw_transactions_df(spark: SparkSession, rows=None) -> DataFrame:
    return spark.createDataFrame(
        sample_rows() if rows is None else rows, schema=RAW_TRANSACTION_SCHEMA
    )


def load_table(spark: SparkSession, sf_dir: str, table: str = "events") -> DataFrame:
    """Read ``<sf_dir>/<table>.parquet`` (a file or a partitioned
    directory) with its timestamps as ``TimestampType``. The sf
    ``events.ts`` has shipped as ``timestamp[us]``, which Spark reads as
    ``TIMESTAMP_NTZ`` (cast; wall clock kept under the UTC session), and
    as INT64 nanoseconds, which ``spark.sql.legacy.parquet.nanosAsLong``
    reads as long (floor-divided to µs)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        elif f.name == "ts" and isinstance(f.dataType, LongType):
            df = df.withColumn(f.name, F.timestamp_micros(F.expr("ts div 1000")))
    return df
