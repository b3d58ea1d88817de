"""The streaming ingest pipeline: source → clean/route (the *same* pure
functions as batch) → four sinks.

The reference starts up to five independent StreamingQueries, each
re-reading Kafka (:442-505; SURVEY.md §3.1 step 4, §2.9). Here ONE
query consumes the source. ``clean`` and the ``route_flags`` predicates
are applied once, to the stream, and each micro-batch is ONE Spark job:
every ``mapInArrow`` task writes its own rows of all four sinks with
pyarrow and returns its row count per sink.

Sinks (K1-K3): valid/fraud → Parquet partitioned by Year/Month/Day
(ST6); error → Parquet; invalid → CSV audit log with the
``invalid_log`` columns (F4). The tasks write with ``os`` and pyarrow,
so ``out_dir`` is a local or POSIX-mounted path.

``foreachBatch`` is at-least-once: a batch that fails after its writes
runs again when the query restarts from its checkpoint. Every file is
named by (query id, batch id, task partition), and the query id is kept
in the checkpoint, so the sinks are idempotent per (query, batch, task
partition): a replayed batch overwrites its own files instead of
appending them again, provided it is partitioned as before (a file
source replays the same files).
"""

from __future__ import annotations

import os
from collections import defaultdict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from olap_project_spark.schemas import (
    DATA_COLUMNS,
    DEFAULT_VND_PER_USD,
    INVALID_LOG_COLUMNS,
    OUTPUT_COLUMNS,
    PARTITION_COLUMNS,
    RAW_TRANSACTION_SCHEMA,
)
from olap_project_spark.transforms.clean import clean
from olap_project_spark.transforms.route import invalid_reason, route_flags

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def read_file_stream(
    spark: SparkSession, source_dir: str, fmt: str = "json"
) -> DataFrame:
    """File-based raw-transaction stream (test/replay source — ST9).
    ``maxFilesPerTrigger`` is left to the caller's trigger policy."""
    reader = spark.readStream.schema(RAW_TRANSACTION_SCHEMA)
    return getattr(reader, fmt)(source_dir)


def encode_kafka_payload(df: DataFrame, key_col: str = "Card") -> DataFrame:
    """The Kafka WIRE FORMAT, producer side (pos_simulator.py:133-141
    semantics): (key, value) where value is the row JSON-encoded and
    key is the card number (keeps a card's events ordered within a
    topic partition). Pure DataFrame→DataFrame so the format is
    testable without a broker — the sink merely appends the transport."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


def decode_kafka_value(df: DataFrame) -> DataFrame:
    """The Kafka WIRE FORMAT, consumer side (S3,
    spark_streaming_consumer.py:177-212): JSON-decode the string value
    against the fixed raw-transaction schema and flatten. Inverse of
    ``encode_kafka_payload`` (checked by test_kafka_wire_format)."""
    return df.select(
        F.from_json(F.col("value").cast("string"), RAW_TRANSACTION_SCHEMA).alias(
            "data"
        )
    ).select("data.*")


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka raw-transaction stream (S2+S3): subscribe, JSON-decode the
    value against the fixed schema, flatten. Matches the reference's
    source contract (spark_streaming_consumer.py:177-212) — requires the
    spark-sql-kafka package on the cluster (not in this test env)."""
    kafka = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
        .load()
    )
    return decode_kafka_value(kafka)


def write_console(
    df: DataFrame,
    output_mode: str = "append",
    truncate: bool = True,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Console debug sink (K1, reference write_to_console :285-304)."""
    return (
        df.writeStream.outputMode(output_mode)
        .format("console")
        .option("truncate", str(truncate).lower())
        .trigger(**(trigger or {"processingTime": "5 seconds"}))
        .start()
    )


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str = "Card",
) -> StreamingQuery:
    """Kafka sink (K5, pos_simulator.py:133-141 semantics): JSON-encode
    each row as the value, key by card number so a card's events stay
    ordered within a partition. Requires the spark-sql-kafka package on
    the cluster (no broker in this test env — the wire format itself is
    broker-free and covered by test_kafka_wire_format)."""
    payload = encode_kafka_payload(df, key_col=key_col)
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _sink_task(out_dir: str, sink_format: str, schema, name: str):
    """The ``mapInArrow`` function that writes one partition of a routed
    micro-batch to all four sinks, as ``part-<name>-<partition id>``
    files moved into place from hidden ``.part-….tmp`` names, and yields
    its row count per sink. A write that raises removes its hidden file
    before re-raising; a worker killed mid-write can still leave one
    behind, which every reader skips (Spark ignores names that start
    with a dot)."""
    day_csv = "_csv" if sink_format == "csv" else None
    # sink -> (columns, CSV line column or None for parquet, partitioned)
    layouts = {
        "valid": (DATA_COLUMNS, day_csv, True),
        "fraud": (DATA_COLUMNS, day_csv, True),
        "error": (OUTPUT_COLUMNS, None, False),
        "invalid": (INVALID_LOG_COLUMNS, "_log", False),
    }

    def write(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = f"part-{name}-{ctx.partitionId():05d}"
        batches = list(batches)
        table = pa.Table.from_batches(batches) if batches else schema.empty_table()

        def put(directory, rows, cols, csv_col):
            os.makedirs(directory, exist_ok=True)
            tmp = os.path.join(directory, f".{part}.{ctx.attemptNumber()}.tmp")
            ext = "snappy.parquet" if csv_col is None else "csv"
            try:
                if csv_col is None:
                    pq.write_table(
                        rows.select(cols), tmp, compression="snappy", store_schema=False
                    )
                else:
                    with open(tmp, "w", encoding="utf-8") as f:
                        for line in [",".join(cols), *rows[csv_col].to_pylist()]:
                            f.write(f"{line}\n")
                os.replace(tmp, os.path.join(directory, f"{part}.{ext}"))
            except BaseException:
                if os.path.exists(tmp):
                    os.remove(tmp)
                raise

        for sink, (cols, csv_col, partitioned) in layouts.items():
            rows = table.filter(table[f"_{sink}"])
            if partitioned:
                days = defaultdict(list)
                keys = zip(*(rows[c].to_pylist() for c in PARTITION_COLUMNS))
                for i, key in enumerate(keys):
                    days["/".join(
                        f"{c}={HIVE_NULL if v is None else v}"
                        for c, v in zip(PARTITION_COLUMNS, key)
                    )].append(i)
                parts = {d: rows.take(idx) for d, idx in days.items()}
            else:
                # partition 0 writes even an empty file, so a batch
                # without such rows leaves the sink readable
                parts = {"": rows} if rows.num_rows or ctx.partitionId() == 0 else {}
            for sub, t in parts.items():
                put(os.path.join(out_dir, sink, sub), t, cols, csv_col)
            yield pa.RecordBatch.from_pydict({"sink": [sink], "rows": [rows.num_rows]})

    return write


def start_pipeline(
    raw_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    rate: float | None = None,
    mode: str = "reference",
    processed_at: str | None = None,
    trigger: dict | None = None,
    sink_format: str = "parquet",
    on_batch: Callable[[int, dict[str, int]], None] | None = None,
) -> StreamingQuery:
    """Run the full ingest pipeline as ONE streaming query; each
    micro-batch is one Spark job that writes all four sinks.

    Args:
        raw_stream: streaming DataFrame with the raw schema.
        out_dir: sink root — writes {valid,fraud}/ (parquet, or CSV with
            ``sink_format="csv"``, partitioned Year/Month/Day), error/
            (parquet), invalid/ (CSV audit).
        checkpoint_dir: one checkpoint for the single query (ST3).
        rate: literal VND rate (None → reference default). For daily
            rates run transforms.enrich inside a custom fan-out instead.
        trigger: e.g. {"availableNow": True} for replay/tests,
            {"processingTime": "5 seconds"} for the reference cadence.
        on_batch: optional hook (batch_id, per-sink row counts), called
            after the batch's files are in place.
    """
    rate_value = DEFAULT_VND_PER_USD if rate is None else rate
    flags = route_flags(mode)
    cleaned = clean(raw_stream, rate=rate_value, processed_at=processed_at)
    cleaned = cleaned.withColumn("invalid_reason", invalid_reason())
    # CSV rows are rendered by Spark's own CSV generator, so the files
    # read back exactly as the DataFrameWriter's would.
    lines = {"_log": F.when(flags["invalid"], F.to_csv(F.struct(*INVALID_LOG_COLUMNS)))}
    if sink_format == "csv":
        lines["_csv"] = F.when(
            flags["valid"] | flags["fraud"], F.to_csv(F.struct(*DATA_COLUMNS))
        )
    routed = cleaned.select(
        *OUTPUT_COLUMNS,
        *(e.alias(c) for c, e in lines.items()),
        *(flag.alias(f"_{sink}") for sink, flag in flags.items()),
    )

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.pandas.types import to_arrow_schema

        # The query id survives restarts from the checkpoint, so a
        # replayed batch writes the same file names.
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        task = _sink_task(out_dir, sink_format, to_arrow_schema(batch_df.schema),
                          f"{query_id}-{batch_id}")
        counts = dict.fromkeys(flags, 0)
        for row in batch_df.mapInArrow(task, "sink string, rows long").collect():
            counts[row.sink] += row.rows
        if on_batch is not None:
            on_batch(batch_id, counts)

    writer = routed.writeStream.foreachBatch(fan_out).option(
        "checkpointLocation", checkpoint_dir
    )
    writer = writer.trigger(**(trigger or {"processingTime": "5 seconds"}))
    return writer.start()
