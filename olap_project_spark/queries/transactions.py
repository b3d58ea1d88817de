"""The reference's ten OLAP questions (requirements.md:42-53, DAX at
sample_data/README.md:73-87) over the *actual transaction fact* — the
queries the reference delegated to Power BI, owned natively here
(SURVEY.md §2.4 Q0-Q10).

Each function takes a **cleaned** transactions DataFrame (the output of
``transforms.clean`` / ``transforms.enrich``) so the same library runs
over the streaming sink, the warehouse export, or an ad-hoc batch load.
They are exercised against DuckDB in
``tests/test_transaction_queries.py``.

Scale: identical discipline to the rest of the library — map-side
combinable aggregates, broadcast scalar stats, per-card windows,
decimal-exact money sums. An aggregate bounded by the clock (at most 25
hours) is coalesced to one task before its sort or window, so it needs
no second exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEC = "decimal(18,2)"


def _vnd(col: str = "Amount_VND"):
    return F.col(col).cast(DEC)


def q0_merchant_rollup(txns: DataFrame) -> DataFrame:
    """Q0 end-of-period rollup (requirements.md:10-13): per merchant,
    total VND value + count, at day→month→year→total levels (GROUPING
    SETS via rollup). The rollup runs over the merchant-day aggregate,
    so its five-way row expansion sees one row per merchant and day,
    not one per transaction; decimal sums add exactly."""
    keys = ["Merchant_Name", "Year", "Month", "Day"]
    daily = txns.groupBy(*keys).agg(
        F.sum(_vnd()).alias("vnd"), F.count("*").alias("n")
    )
    return daily.rollup(*keys).agg(
        F.sum("vnd").cast("double").alias("total_vnd"),
        F.sum("n").alias("n_txns"),
    )


def q1_busiest_hours(txns: DataFrame) -> DataFrame:
    """Q1 busiest time of day (requirements.md:42). The hourly
    aggregate has at most 25 rows, so it is sorted in one task: no
    range-partition sampling job and no second shuffle."""
    return (
        txns.groupBy("Hour")
        .agg(F.count("*").alias("n_txns"))
        .coalesce(1)
        .orderBy(F.desc("n_txns"), F.asc("Hour"))
    )


def q1b_anomalous_hours(txns: DataFrame, k_sigma: float = 2.0) -> DataFrame:
    """Q1 anomaly half (requirements.md:43): hours whose txn count
    exceeds mean + k·σ across hours. The hourly aggregate has at most
    25 rows, so its stats are a window over all of them in one task."""
    n = F.col("n_txns").cast("double")
    every_hour = Window.partitionBy()
    return (
        txns.groupBy("Hour")
        .agg(F.count("*").alias("n_txns"))
        .coalesce(1)
        .withColumn("_mu", F.avg(n).over(every_hour))
        .withColumn("_sigma", F.stddev_samp(n).over(every_hour))
        .filter(n > F.col("_mu") + k_sigma * F.col("_sigma"))
        .select("Hour", "n_txns")
    )


def q2_top_cities_by_value(txns: DataFrame, k: int = 10) -> DataFrame:
    """Q2 city with highest total value (requirements.md:44)."""
    return (
        txns.groupBy("Merchant_City")
        .agg(F.sum(_vnd()).cast("double").alias("total_vnd"))
        .orderBy(F.desc("total_vnd"), F.asc("Merchant_City"))
        .limit(k)
    )


def q3_top_merchants(txns: DataFrame, k: int = 10, by: str = "value") -> DataFrame:
    """Q3 top merchant by count or by value (requirements.md:45; the
    DAX TOPN analog)."""
    agg = txns.groupBy("Merchant_Name").agg(
        F.count("*").alias("n_txns"),
        F.sum(_vnd()).cast("double").alias("total_vnd"),
    )
    order = F.desc("total_vnd") if by == "value" else F.desc("n_txns")
    return agg.orderBy(order, F.asc("Merchant_Name")).limit(k)


def q4_fraud_rate_by(txns: DataFrame, dim: str = "Merchant_City") -> DataFrame:
    """Q4 dimension with anomalously high fraud rate (requirements.md:46)
    — the DIVIDE(COUNTROWS(FILTER(...)), COUNTROWS(...)) DAX pattern as
    one conditional aggregate."""
    fraud = F.when(F.col("Is_Fraud") == "Yes", 1).otherwise(0)
    return txns.groupBy(dim).agg(
        F.count("*").alias("n_txns"),
        F.sum(fraud).cast("bigint").alias("n_fraud"),
        F.round(F.sum(fraud).cast("double") / F.count("*"), 6).alias("fraud_rate"),
    )


def q5_rapid_transactions(txns: DataFrame, gap_seconds: int = 300) -> DataFrame:
    """Q5 users with consecutive transactions in a short window
    (requirements.md:47): per-card lag over event time; count gaps under
    ``gap_seconds``."""
    w = Window.partitionBy("User", "Card").orderBy("Transaction_Date")
    gap = (
        F.col("Transaction_Date").cast("double")
        - F.lag(F.col("Transaction_Date").cast("double")).over(w)
    )
    seq = txns.withColumn("gap_s", gap).filter(F.col("gap_s").isNotNull())
    return (
        seq.groupBy("User")
        .agg(
            F.sum(F.when(F.col("gap_s") < gap_seconds, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rapid"),
            F.count("*").alias("n_gaps"),
        )
        .filter(F.col("n_rapid") > 0)
    )


def q6_large_txn_profile(txns: DataFrame, threshold_usd: float = 500.0) -> DataFrame:
    """Q6 when/where large transactions occur (requirements.md:48, F5)."""
    return (
        txns.filter(F.col("Amount_USD") > threshold_usd)
        .groupBy("Hour", "Merchant_City")
        .agg(
            F.count("*").alias("n_txns"),
            F.sum(_vnd()).cast("double").alias("total_vnd"),
        )
    )


def q7_fraud_trend(txns: DataFrame, dim: str = "Hour") -> DataFrame:
    """Q7 fraud trend by hour/merchant/city (requirements.md:49)."""
    return (
        txns.filter(F.col("Is_Fraud") == "Yes")
        .groupBy(dim)
        .agg(
            F.count("*").alias("n_fraud"),
            F.sum(_vnd()).cast("double").alias("fraud_vnd"),
        )
    )


def q8_weekend_comparison(txns: DataFrame) -> DataFrame:
    """Q8 weekday vs weekend (requirements.md:50)."""
    return txns.groupBy("Is_Weekend").agg(
        F.count("*").alias("n_txns"),
        F.sum(_vnd()).cast("double").alias("total_vnd"),
        F.round(F.sum(_vnd()).cast("double") / F.count("*"), 6).alias("avg_vnd"),
    )


def q9_above_avg_flag_users(txns: DataFrame, flag: str = "fraud") -> DataFrame:
    """Q9 users with above-average error/fraud counts (requirements.md:51):
    per-user conditional count vs the population average (broadcast
    scalar, no self-join)."""
    cond = (
        (F.col("Is_Fraud") == "Yes")
        if flag == "fraud"
        else (F.col("Errors").isNotNull() & (F.col("Errors") != ""))
    )
    per_user = txns.groupBy("User").agg(
        F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias("n_flagged")
    )
    stats = per_user.agg(F.avg(F.col("n_flagged").cast("double")).alias("mu"))
    return (
        per_user.join(F.broadcast(stats))
        .filter(F.col("n_flagged").cast("double") > F.col("mu"))
        .select("User", "n_flagged")
    )
