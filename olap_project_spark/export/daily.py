"""Daily warehouse export — the reference's entire Airflow DAG body
(bigquery_update_scheduler.py:59-282: WebHDFS recursive listing,
per-file pyarrow reads, partition-regex recovery, pandas concat, column
reorder, CSV staging, BigQuery load job) as ONE partition-pruned Spark
batch append (SURVEY.md §3.2).

Everything the DAG hand-rolled is a Catalyst built-in here:
- S4 recursive listing      → datasource file index
- S5 per-file reads         → vectorized parquet reader
- S6 partition-value regex  → partition-column materialization
- P19 column reorder        → schema-contract select
- K4 staged CSV load        → direct parquet append

The read names the day's ``Year=Y/Month=M/Day=D`` directory (with the
sink as ``basePath``, so the partition columns still materialize):
planning lists that directory only, no matter how large the history —
the property the DAG's path-arithmetic was trying to achieve (and broke
with its ``Year=`` vs ``year=`` casing bug, SURVEY.md §1.3)."""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from olap_project_spark.schemas import OUTPUT_COLUMNS


def export_partition(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    year: int,
    month: int,
    day: int,
) -> int:
    """Append one day's partition from the streaming sink to the
    warehouse table. Returns the number of rows this call appended,
    counted by an ``Observation`` on the append itself (no re-scan).

    Scale: the read lists only the day's directory, so this is O(day),
    not O(history); the append is shuffle-free (narrow read → write). A
    day with no directory appends nothing and returns 0. Re-running a
    day appends it again, matching the reference's WRITE_APPEND
    semantics."""
    day_df = read_day(spark, source_dir, year, month, day)
    if day_df is None:
        return 0
    rows = Observation()
    day_df = (
        day_df.select(*OUTPUT_COLUMNS)  # schema contract (P19)
        .observe(rows, F.count(F.lit(1)).alias("rows"))
    )
    day_df.write.mode("append").partitionBy("Year", "Month", "Day").parquet(target_dir)
    return rows.get["rows"]


def read_day(
    spark: SparkSession, source_dir: str, year: int, month: int, day: int
) -> DataFrame | None:
    """One day of a ``Year/Month/Day``-partitioned sink, read from that
    day's directory alone (partition columns included), or ``None`` when
    the sink has no such directory."""
    try:
        return (
            spark.read.option("basePath", source_dir)
            .parquet(f"{source_dir}/Year={year}/Month={month}/Day={day}")
        )
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def read_warehouse(spark: SparkSession, target_dir: str) -> DataFrame:
    """The warehouse table (what Power BI read in the reference; what
    the query library reads here)."""
    return spark.read.parquet(target_dir)
