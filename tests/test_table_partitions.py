"""table$partitions — the Iceberg partitions metadata table over the
hidden-partitioned manifest format: exact per-partition file/row counts
from the log alone (writer-recorded per-file tuple histograms), the
strict/unaccounted contract, the tuple cap, and carriage through
partial compaction."""

from __future__ import annotations

import datetime

import pytest

from olap_project_spark.export.manifest_sink import (
    PART_VALUES_CAP,
    compact_range,
    delete_where,
    save_manifest,
    table_partitions,
    write_partitioned,
)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        (datetime.datetime(2024, 1, d % 5 + 1, h % 24, 0, 0), d)
        for d in range(1, 30)
        for h in range(3)
    ]
    return spark.createDataFrame(rows, "ts timestamp, v int")


def _truth(events, *exprs):
    from pyspark.sql import functions as F

    cols = [F.expr(e).alias(f"k{i}") for i, e in enumerate(exprs)]
    rows = events.groupBy(*cols).count().collect()
    return sorted(
        (tuple(r[f"k{i}"] for i in range(len(exprs))), r["count"])
        for r in rows
    )


class TestExactCounts:
    def test_single_field_days(self, spark, events, tmp_path):
        path = str(tmp_path / "t")
        write_partitioned(spark, events, path, "ts", "days", n_files=5)
        tp = table_partitions(path)
        meta = sorted(
            (tuple(e["partition"]), e["n_rows"]) for e in tp["partitions"]
        )
        assert meta == _truth(events, "unix_date(cast(ts as date))")
        assert tp["unaccounted_files"] == 0
        assert sum(e["n_files"] for e in tp["partitions"]) >= len(
            tp["partitions"]
        )

    def test_multi_field_tuples(self, spark, events, tmp_path):
        path = str(tmp_path / "t")
        write_partitioned(
            spark,
            events,
            path,
            transforms=[("ts", "days"), ("v", "bucket", 4)],
            n_files=4,
        )
        tp = table_partitions(path)
        meta = sorted(
            (tuple(e["partition"]), e["n_rows"]) for e in tp["partitions"]
        )
        assert meta == _truth(
            events, "unix_date(cast(ts as date))", "pmod(v, 4)"
        )

    def test_survives_partial_compaction(self, spark, events, tmp_path):
        path = str(tmp_path / "t")
        write_partitioned(spark, events, path, "ts", "days", n_files=5)
        def rows_only(parts):
            return sorted(
                (tuple(e["partition"]), e["n_rows"]) for e in parts
            )

        before = table_partitions(path)["partitions"]
        compact_range(spark, path, events.schema, "v", 1, 5, n_files=2)
        after = table_partitions(path)
        assert after["unaccounted_files"] == 0
        # file counts change with the new layout; row counts never do
        assert rows_only(after["partitions"]) == rows_only(before)


class TestHonestDegradation:
    def test_plain_append_is_unaccounted(self, spark, events, tmp_path):
        path = str(tmp_path / "t")
        write_partitioned(spark, events, path, "ts", "days", n_files=5)
        # an append through the PLAIN writer records no spec/histogram
        save_manifest(events.limit(3).repartition(1), path)
        with pytest.raises(ValueError, match="no value-level"):
            table_partitions(path)
        tp = table_partitions(path, strict=False)
        assert tp["unaccounted_files"] == 1
        # the accounted subset is still the full first commit
        assert sum(e["n_rows"] for e in tp["partitions"]) == events.count()

    def test_tuple_cap_disables_histogram(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark = spark
        n = PART_VALUES_CAP + 10
        rows = [
            (datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i), i)
            for i in range(n)
        ]
        wide = spark.createDataFrame(rows, "ts timestamp, v int")
        # ONE file spanning > PART_VALUES_CAP distinct days
        write_partitioned(spark, wide, path, "ts", "days", n_files=1)
        with pytest.raises(ValueError, match="no value-level"):
            table_partitions(path)
        tp = table_partitions(path, strict=False)
        assert tp["unaccounted_files"] == 1
        assert tp["partitions"] == []

    def test_rejects_tombstones_and_specless_tables(
        self, spark, events, tmp_path
    ):
        path = str(tmp_path / "t")
        write_partitioned(spark, events, path, "ts", "days", n_files=5)
        delete_where(
            spark, path, spark.createDataFrame([(1,)], "v int")
        )
        with pytest.raises(ValueError, match="tombstones"):
            table_partitions(path)
        plain = str(tmp_path / "plain")
        save_manifest(events.limit(3).repartition(1), plain)
        with pytest.raises(ValueError, match="no partition transform"):
            table_partitions(plain)
