"""Daily warehouse export — the reference's entire Airflow DAG body
(bigquery_update_scheduler.py:59-282: WebHDFS recursive listing,
per-file pyarrow reads, partition-regex recovery, pandas concat, column
reorder, CSV staging, BigQuery load job) as one file replaced on the
driver, with no Spark job (SURVEY.md §3.2).

What the DAG hand-rolled, and what it is here:
- S4 recursive listing      → one listing of the day's directory
- S5 per-file reads         → per-file pyarrow reads, streamed into
                              row groups (no concat of the day)
- S6 partition-value regex  → the day is the ``Year=Y/Month=M/Day=D``
                              path, in the warehouse as in the sink
- P19 column reorder        → schema-contract column selection
- K4 staged CSV load        → a hidden temp file renamed onto the day

The day's path is built from the one canonical casing, so the listing
touches that directory only, however large the history — what the DAG's
path arithmetic was after (and broke with its ``Year=`` vs ``year=``
casing bug, SURVEY.md §1.3).

Each warehouse day is ONE file with a fixed name, so a retried or
re-run export replaces the day instead of appending it again: every
sink row lands in the warehouse exactly once, including rows of sink
files that landed after an earlier export of the day."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from olap_project_spark.schemas import DATA_COLUMNS

# The warehouse's one file per day.
DAY_FILE = "part-00000.snappy.parquet"
# Rows per parquet row group, as ``ManifestWriter.BATCH_ROWS``.
ROW_GROUP_ROWS = 65536


def _visible_files(directory: str) -> list[str]:
    """Sorted names of the files Spark reads in ``directory`` (names
    starting with ``.`` or ``_`` are hidden), or ``[]`` when it does not
    exist."""
    try:
        with os.scandir(directory) as it:
            return sorted(
                e.name for e in it
                if e.is_file() and not e.name.startswith((".", "_"))
            )
    except FileNotFoundError:
        return []


def export_partition(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    year: int,
    month: int,
    day: int,
) -> int:
    """Replace one day of the warehouse table with that day's rows in
    the streaming sink; returns the number of rows written.

    No Spark job runs (``spark`` is unused). The sink files are read one
    at a time (memory O(one sink file), time O(the day's bytes)) into a
    hidden temp file that ``os.replace`` moves onto ``DAY_FILE``, so a
    failure leaves the day as it was or wholly replaced. A day with no
    sink files writes nothing and returns 0. Raises ``ValueError`` if
    the warehouse's day directory holds another visible file, whose
    rows the replace would leave beside the day's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    day_dir = f"Year={year}/Month={month}/Day={day}"
    src = os.path.join(source_dir, day_dir)
    files = _visible_files(src)
    if not files:
        return 0
    dst = os.path.join(target_dir, day_dir)
    stray = [f for f in _visible_files(dst) if f != DAY_FILE]
    if stray:
        raise ValueError(
            f"warehouse day {dst} holds {stray[0]}, which export_partition "
            f"did not write; move it away before exporting the day"
        )
    first = pq.read_schema(os.path.join(src, files[0]))
    # Spark reads every parquet column as nullable
    schema = pa.schema([first.field(c).with_nullable(True) for c in DATA_COLUMNS])
    os.makedirs(dst, exist_ok=True)
    tmp = os.path.join(dst, f".{DAY_FILE}.{uuid.uuid4().hex}.tmp")
    rows = 0
    try:
        with pq.ParquetWriter(
            tmp, schema, compression="snappy", store_schema=False
        ) as writer:
            pending = schema.empty_table()
            for name in files:
                with pq.ParquetFile(os.path.join(src, name)) as f:
                    table = f.read(columns=DATA_COLUMNS)
                rows += table.num_rows
                pending = pa.concat_tables([pending, table.cast(schema)])
                # write whole row groups; the rest waits for more rows
                full = pending.num_rows - pending.num_rows % ROW_GROUP_ROWS
                if full:
                    writer.write_table(pending.slice(0, full), row_group_size=ROW_GROUP_ROWS)
                    pending = pending.slice(full)
            if pending.num_rows:
                writer.write_table(pending, row_group_size=ROW_GROUP_ROWS)
        os.replace(tmp, os.path.join(dst, DAY_FILE))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return rows


def read_warehouse(spark: SparkSession, target_dir: str) -> DataFrame:
    """The warehouse table (what Power BI read in the reference; what
    the query library reads here)."""
    return spark.read.parquet(target_dir)
