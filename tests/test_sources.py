"""Source-layer tests: table loading over non-single-file layouts."""

from __future__ import annotations

class TestPartitionedTableLoading:
    def test_load_table_on_partitioned_directory(self, spark, sf_dir, tmp_path):
        """A table stored as a partitioned DIRECTORY (what the engine's
        own sinks write at scale) must load through the same
        ``load_table`` path: partition columns recovered from dir
        names, every row read once."""
        import shutil

        from pyspark.sql import functions as F

        from tests.fixtures import load_table

        src = load_table(spark, sf_dir, "events")
        root = tmp_path / "part_events"
        (
            src.withColumn("day", F.dayofmonth("ts"))
            .write.partitionBy("day")
            .parquet(str(root / "events.parquet"))
        )
        try:
            df = load_table(spark, str(root), "events")
            assert "day" in df.columns  # recovered partition column
            assert df.count() == src.count()
        finally:
            shutil.rmtree(root, ignore_errors=True)
