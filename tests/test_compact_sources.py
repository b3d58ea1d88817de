"""Compaction + batch-source tests."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from olap_project_spark.export.compact import compact_partition
from olap_project_spark.sources.batch import (
    read_raw_csv,
    read_raw_json,
    synthesize_timestamp,
)
from olap_project_spark.transforms import clean, route
from olap_project_spark.transforms.clean import to_output
from tests.fixtures import raw_transactions_df


class TestCompaction:
    def test_compacts_fragmented_partition(self, spark, tmp_path):
        sink = str(tmp_path / "sink")
        cleaned = clean(raw_transactions_df(spark), processed_at="2024-01-15 09:00:00")
        valid = to_output(route(cleaned)["valid"])
        # simulate many micro-batches: 5 appends → ≥5 files per partition
        for _ in range(5):
            valid.repartition(2).write.mode("append").partitionBy(
                "Year", "Month", "Day"
            ).parquet(sink)

        part = Path(sink) / "Year=2024" / "Month=1" / "Day=15"
        before_rows = spark.read.parquet(sink).count()
        n_before, n_after = compact_partition(
            spark, sink, {"Year": 2024, "Month": 1, "Day": 15}
        )
        assert n_before >= 5
        assert n_after == 1  # tiny partition → single target file
        assert len(list(part.glob("*.parquet"))) == 1
        # no data change, and other partitions untouched
        assert spark.read.parquet(sink).count() == before_rows

    def test_missing_partition_raises(self, spark, tmp_path):
        sink = str(tmp_path / "sink2")
        clean(raw_transactions_df(spark), processed_at="2024-01-15 09:00:00")
        with pytest.raises(FileNotFoundError):
            compact_partition(spark, sink, {"Year": 1999, "Month": 1, "Day": 1})


class TestBatchSources:
    def test_csv_reader_pins_schema(self, spark, raw_transactions_csv):
        df = read_raw_csv(spark, raw_transactions_csv)
        assert df.schema.fieldNames() == [
            "User", "Card", "Year", "Month", "Day", "Time", "Amount", "Use Chip",
            "Merchant Name", "Merchant City", "Merchant State", "Zip", "MCC",
            "Errors?", "Is Fraud?", "timestamp",
        ]
        assert df.count() == 123

    def test_timestamp_synthesis_null_safe(self, spark, raw_transactions_csv):
        df = synthesize_timestamp(read_raw_csv(spark, raw_transactions_csv))
        # every fixture row has full calendar + time → timestamp present
        assert df.filter(F.col("timestamp").isNull()).count() == 0
        row = df.select("timestamp").first()
        assert "T" in row["timestamp"]
        # null component → null timestamp
        broken = synthesize_timestamp(
            read_raw_csv(spark, raw_transactions_csv).withColumn(
                "Time", F.lit(None).cast("string")
            )
        )
        assert broken.filter(F.col("timestamp").isNotNull()).count() == 0

    def test_json_roundtrip(self, spark, tmp_path):
        raw = raw_transactions_df(spark)
        path = str(tmp_path / "raw_json")
        raw.write.mode("overwrite").json(path)
        back = read_raw_json(spark, path)
        assert back.count() == raw.count()
        assert back.schema == raw.schema


class TestFormatDispatch:
    """write_table/read_table speak every bundled format with identical
    results, partition recovery, and (columnar) pushdown ability."""

    @pytest.fixture(scope="class")
    def events_sample(self, spark, sf_dir):
        from tests.fixtures import load_table

        return (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .limit(500)
            .cache()
        )

    @pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
    def test_round_trip_every_bundled_format(
        self, spark, events_sample, tmp_path, fmt
    ):
        from olap_project_spark.sources.batch import read_table, write_table

        path = str(tmp_path / f"t_{fmt}")
        write_table(events_sample, path, fmt)
        back = read_table(spark, path, fmt, schema=events_sample.schema)
        assert back.schema == events_sample.schema
        want = {tuple(r) for r in events_sample.collect()}
        got = {tuple(r) for r in back.collect()}
        assert got == want

    def test_partition_discovery_recovers_columns(
        self, spark, events_sample, tmp_path
    ):
        from olap_project_spark.sources.batch import read_table, write_table

        path = str(tmp_path / "t_part")
        write_table(events_sample, path, "orc", partition_by=["event_type"])
        back = read_table(spark, path, "orc")
        assert "event_type" in back.columns  # S6 for free
        n = back.filter(F.col("event_type") == "click").count()
        want = events_sample.filter(F.col("event_type") == "click").count()
        assert n == want

    def test_orc_pushes_predicates(self, spark, events_sample, tmp_path):
        from olap_project_spark.sources.batch import read_table, write_table

        path = str(tmp_path / "t_orc")
        write_table(events_sample, path, "orc")
        plan = (
            read_table(spark, path, "orc")
            .filter(F.col("value") > 400)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedFilters" in plan and "GreaterThan(value" in plan


class TestSchemaEvolution:
    """The warehouse reality the reference's fixed 21-column contract
    ignores: new columns arrive over time. Parquet + mergeSchema reads
    old and new files as one table (missing columns null-filled)."""

    def test_merge_schema_unions_columns(self, spark, tmp_path):
        path = str(tmp_path / "evolving")
        spark.createDataFrame(
            [(1, "a")], "id bigint, old_col string"
        ).write.parquet(path + "/batch=1")
        spark.createDataFrame(
            [(2, "b", 9.5)], "id bigint, old_col string, new_col double"
        ).write.parquet(path + "/batch=2")

        merged = spark.read.option("mergeSchema", True).parquet(path)
        assert {"id", "old_col", "new_col", "batch"} <= set(merged.columns)
        rows = {r["id"]: r for r in merged.collect()}
        assert rows[1]["new_col"] is None  # old file null-fills
        assert rows[2]["new_col"] == 9.5

    def test_without_merge_schema_first_file_wins_silently(self, spark, tmp_path):
        """Documents WHY mergeSchema matters: the default read may pick
        a footer lacking the new column — readers must opt in."""
        path = str(tmp_path / "evolving2")
        spark.createDataFrame([(1,)], "id bigint").write.parquet(path + "/batch=1")
        spark.createDataFrame(
            [(2, 1.0)], "id bigint, new_col double"
        ).write.parquet(path + "/batch=2")
        default_cols = set(spark.read.parquet(path).columns) - {"batch"}
        merged_cols = set(
            spark.read.option("mergeSchema", True).parquet(path).columns
        ) - {"batch"}
        assert merged_cols == {"id", "new_col"}
        assert default_cols <= merged_cols


class TestAggregatePushdown:
    """MIN/MAX/COUNT answered from parquet FOOTER METADATA (v2 reader +
    spark.sql.parquet.aggregatePushdown): at 100 TB a row-count or
    column-extent probe touches O(files) footers instead of scanning
    data — the difference between seconds and hours for the profiling
    passes functions/profile.py runs."""

    def test_min_max_count_come_from_footers(self, spark, sf_dir):
        from pyspark.sql import functions as F

        child = spark.newSession()
        child.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        child.conf.set("spark.sql.sources.useV1SourceList", "")
        df = child.read.parquet(f"{sf_dir}/orders.parquet")
        agg = df.agg(
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
            F.count("*").alias("n"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan or "min(o_totalprice)" in plan
        row = agg.collect()[0]
        want = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .agg(
                F.min("o_totalprice"), F.max("o_totalprice"), F.count("*")
            )
            .collect()[0]
        )
        assert (row["mn"], row["mx"], row["n"]) == tuple(want)
