"""ANALYZE TABLE — per-file KMV NDV sketches in the manifest log.

analyze_table records the k smallest xxhash64 values per (file,
column) as a metadata-only kind='analyze' commit; table_ndv merges
live files' sketches into a distinct count (exact when every sketch
is complete, KMV-estimated otherwise) with metadata_aggregate-style
strictness. The analyze kind must be INVISIBLE to every other
surface: streams, CDF, reads, partial rewrites.

Reference analogue: none — the reference re-scans for every
COUNT(DISTINCT) (bigquery_update_scheduler.py:255-260)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olap_project_spark.export.manifest_sink import (
    analyze_table,
    committed_versions,
    compact_snapshots,
    delete_where,
    ensure_manifest_sink,
    read_committed,
    read_version_delta,
    rename_column,
    replace_where,
    table_history,
    table_ndv,
)

SCH = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("st", T.StringType()),
    ]
)


def _append(spark, path, lo, hi, n_files=2, mod=3):
    (
        spark.createDataFrame(
            [(i, f"s{i % mod}") for i in range(lo, hi)], SCH
        )
        .coalesce(n_files)
        .write.format(ensure_manifest_sink(spark))
        .option("path", path)
        .mode("append")
        .save()
    )


@pytest.fixture()
def tbl(spark, tmp_path):
    path = str(tmp_path / "t")
    _append(spark, path, 0, 600)
    return path


class TestAnalyzeTable:
    def test_exact_when_sketches_complete(self, spark, tbl):
        analyze_table(spark, tbl, ["k", "st"], k=1024)
        assert table_ndv(tbl, "st") == {
            "ndv": 3,
            "exact": True,
            "n_files": 2,
        }
        r = table_ndv(tbl, "k")
        assert r["exact"] and r["ndv"] == 600

    def test_estimate_within_kmv_error(self, spark, tbl):
        analyze_table(spark, tbl, ["k"], k=128)
        r = table_ndv(tbl, "k")
        assert not r["exact"]  # 300 distinct per file > 128
        assert abs(r["ndv"] - 600) / 600 < 0.25  # sigma ~ 8.9%

    def test_incremental_skips_sketched_files(self, spark, tbl):
        r1 = analyze_table(spark, tbl, ["st"], k=256)
        assert r1["n_files_analyzed"] == 2
        _append(spark, tbl, 600, 900, mod=5)  # adds s3, s4
        r2 = analyze_table(spark, tbl, ["st"], k=256)
        assert r2["n_files_analyzed"] == 2  # only the new files
        assert table_ndv(tbl, "st") == {
            "ndv": 5,
            "exact": True,
            "n_files": 4,
        }
        r3 = analyze_table(spark, tbl, ["st"], k=256)
        assert r3["n_files_analyzed"] == 0  # steady state: no-op
        assert r3["version"] == r2["version"]  # and no empty commit

    def test_missing_coverage_raises(self, spark, tbl):
        analyze_table(spark, tbl, ["st"], k=256)
        _append(spark, tbl, 600, 700)
        with pytest.raises(ValueError, match="no NDV sketch"):
            table_ndv(tbl, "st")

    def test_unknown_column_raises(self, spark, tbl):
        with pytest.raises(ValueError, match="unknown columns"):
            analyze_table(spark, tbl, ["nope"])

    def test_tombstones_make_reads_strict(self, spark, tbl):
        analyze_table(spark, tbl, ["st"], k=256)
        delete_where(spark, tbl, spark.createDataFrame([(5,)], "k long"))
        with pytest.raises(ValueError, match="OPTIMIZE"):
            table_ndv(tbl, "st")

    def test_rewrite_invalidates_then_reanalyze(self, spark, tbl):
        analyze_table(spark, tbl, ["st"], k=256)
        compact_snapshots(spark, tbl, SCH)
        with pytest.raises(ValueError, match="no NDV sketch"):
            table_ndv(tbl, "st")
        analyze_table(spark, tbl, ["st"], k=256)
        assert table_ndv(tbl, "st")["ndv"] == 3

    def test_rename_retires_old_name(self, spark, tbl):
        analyze_table(spark, tbl, ["st"], k=256)
        rename_column(tbl, "st", "status")
        with pytest.raises(ValueError, match="no NDV sketch"):
            table_ndv(tbl, "status")

    def test_all_null_column_counts_zero(self, spark, tmp_path):
        path = str(tmp_path / "nulls")
        (
            spark.createDataFrame([(1, None), (2, None)], SCH)
            .coalesce(1)
            .write.format(ensure_manifest_sink(spark))
            .option("path", path)
            .mode("append")
            .save()
        )
        analyze_table(spark, path, ["st"], k=64)
        assert table_ndv(path, "st") == {
            "ndv": 0,
            "exact": True,
            "n_files": 1,
        }


class TestAnalyzeKindInvisible:
    """The kind='analyze' commit changes no rows: every other surface
    must pass it through untouched."""

    def test_reads_and_history(self, spark, tbl):
        n = read_committed(spark, tbl, SCH).count()
        v = analyze_table(spark, tbl, ["st"], k=64)["version"]
        assert read_committed(spark, tbl, SCH).count() == n
        assert read_committed(spark, tbl, SCH, as_of=v).count() == n
        kinds = {h["version"]: h["kind"] for h in table_history(tbl)}
        assert kinds[v] == "analyze"

    def test_file_level_cdf_skips_analyze(self, spark, tbl):
        v0 = max(committed_versions(tbl))
        analyze_table(spark, tbl, ["st"], k=64)
        _append(spark, tbl, 600, 650)
        v1 = max(committed_versions(tbl))
        delta = read_version_delta(spark, tbl, SCH, v0, v1)
        assert delta.count() == 50

    def test_streaming_tail_passes_analyze(self, spark, tbl):
        import tempfile

        analyze_table(spark, tbl, ["st"], k=64)
        _append(spark, tbl, 600, 650)
        with tempfile.TemporaryDirectory() as out:
            q = (
                spark.readStream.format(ensure_manifest_sink(spark))
                .schema(SCH)
                .option("path", tbl)
                .load()
                .writeStream.format("parquet")
                .option("path", out + "/data")
                .option("checkpointLocation", out + "/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = spark.read.schema(SCH).parquet(out + "/data").count()
        assert got == 650

    def test_partial_rewrite_ignores_analyze(self, spark, tbl):
        analyze_table(spark, tbl, ["st"], k=64)
        repl = spark.createDataFrame([(0, "z")], SCH)
        r = replace_where(spark, tbl, SCH, "k", 0, 299, repl)
        assert r["version"] > 0  # no guard rejection
