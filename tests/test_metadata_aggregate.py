"""Metadata-only aggregates over the manifest table: COUNT(*)/MIN/MAX/
null counts answered from the log with zero data files opened, the
strict exactness contract, and survival through partial and full
compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olap_project_spark.export.manifest_sink import (
    compact_range,
    compact_snapshots,
    delete_where,
    metadata_aggregate,
    save_manifest,
)


@pytest.fixture(scope="module")
def frame(spark):
    return spark.range(0, 1000).select(
        F.col("id").cast("int").alias("k"),
        F.when(F.col("id") % 3 == 0, F.col("id").cast("double")).alias("nv"),
        F.concat(F.lit("s"), F.col("id")).alias("name"),
    )


def _write(df, path, n_parts=3):
    save_manifest(df.repartition(n_parts), path)


class TestExactness:
    def test_counts_minmax_and_nulls(self, spark, frame, tmp_path):
        path = str(tmp_path / "t")
        _write(frame.filter("k < 600"), path)
        _write(frame.filter("k >= 600"), path, n_parts=2)
        agg = metadata_aggregate(
            path, cols=["nv"], minmax_cols=["k", "name"]
        )
        t = frame.agg(
            F.count("*").alias("n"),
            F.min("k").alias("kmin"),
            F.max("k").alias("kmax"),
            F.count("nv").alias("nvn"),
            F.min("name").alias("smin"),
            F.max("name").alias("smax"),
        ).collect()[0]
        assert agg["n_rows"] == t["n"]
        assert (agg["cols"]["k"]["min"], agg["cols"]["k"]["max"]) == (
            t["kmin"],
            t["kmax"],
        )
        assert agg["cols"]["nv"]["non_null"] == t["nvn"]
        assert agg["cols"]["nv"]["nulls"] == t["n"] - t["nvn"]
        assert (
            agg["cols"]["name"]["min"],
            agg["cols"]["name"]["max"],
        ) == (t["smin"], t["smax"])

    def test_survives_partial_compaction(self, spark, frame, tmp_path):
        path = str(tmp_path / "t")
        _write(frame, path)
        before = metadata_aggregate(path, cols=["nv"], minmax_cols=["k"])
        compact_range(spark, path, frame.schema, "k", 0, 100, n_files=1)
        after = metadata_aggregate(path, cols=["nv"], minmax_cols=["k"])
        assert after == before

class TestStrictness:
    def test_rejects_minmax_on_null_bearing_column(
        self, spark, frame, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(frame, path)
        with pytest.raises(ValueError, match="not answerable"):
            metadata_aggregate(path, minmax_cols=["nv"])
        # counts-only access to the same column works
        agg = metadata_aggregate(path, cols=["nv"])
        assert "min" not in agg["cols"]["nv"]

    def test_rejects_tombstones(self, spark, frame, tmp_path):
        path = str(tmp_path / "t")
        _write(frame, path)
        delete_where(
            spark, path, spark.createDataFrame([(1,)], "k int")
        )
        with pytest.raises(ValueError, match="tombstones"):
            metadata_aggregate(path)

    def test_materialized_tombstones_dont_block(
        self, spark, frame, tmp_path
    ):
        """delete → compact: the old delete manifest persists below the
        rewrite but is already materialized, so it must not block."""
        path = str(tmp_path / "t")
        _write(frame.filter("k < 2"), path, n_parts=1)
        delete_where(
            spark, path, spark.createDataFrame([(1,)], "k int")
        )
        compact_snapshots(spark, path, None)
        assert metadata_aggregate(path, cols=["k"])["n_rows"] == 1
        compact_snapshots(spark, path, None)
        assert metadata_aggregate(path, cols=["k"])["n_rows"] == 1

    def test_rejects_unknown_column(self, spark, frame, tmp_path):
        """A typo must never read as an all-null column."""
        path = str(tmp_path / "t")
        _write(frame.filter("k < 2"), path, n_parts=1)
        with pytest.raises(ValueError, match="unknown column"):
            metadata_aggregate(path, cols=["nam"])
        with pytest.raises(ValueError, match="unknown column"):
            metadata_aggregate(path, minmax_cols=["kk"])
