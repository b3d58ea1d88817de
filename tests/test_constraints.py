"""Table-level CHECK constraints — Delta's ADD/DROP CONSTRAINT shape
recorded in the manifest log, enforced on every write surface.

Reference analogue: per-batch Python validation with an error stream
(spark_streaming_consumer.py:92-118); nothing there guards later
writers — a table-level constraint binds every write path."""

import pytest
from pyspark.sql import types as T

from olap_project_spark.export.manifest_sink import (
    add_constraint,
    committed_versions,
    drop_column,
    drop_constraint,
    enforce_constraints,
    ensure_manifest_sink,
    merge_upsert,
    overwrite_table,
    read_committed,
    rename_column,
    replace_where,
    table_constraints,
    write_partitioned,
)

SCH = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


@pytest.fixture()
def tbl(spark, tmp_path):
    path = str(tmp_path / "t")
    (
        spark.createDataFrame([(i, i * 10) for i in range(100)], SCH)
        .coalesce(1)
        .write.format(ensure_manifest_sink(spark))
        .option("path", path)
        .mode("append")
        .save()
    )
    return path


class TestConstraintLifecycle:
    def test_add_validates_existing_rows(self, spark, tbl):
        with pytest.raises(ValueError, match="existing rows violate"):
            add_constraint(spark, tbl, "small", "cents < 500")
        v = add_constraint(spark, tbl, "nonneg", "cents >= 0")
        assert table_constraints(tbl) == {"nonneg": "cents >= 0"}
        assert v in committed_versions(tbl)

    def test_add_rejects_unresolvable_expr(self, spark, tbl):
        with pytest.raises(ValueError, match="does not resolve"):
            add_constraint(spark, tbl, "bad", "no_such_col > 0")

    def test_duplicate_name_rejects(self, spark, tbl):
        add_constraint(spark, tbl, "c", "cents >= 0")
        with pytest.raises(ValueError, match="already exists"):
            add_constraint(spark, tbl, "c", "cents >= 1")

    def test_drop_unknown_rejects(self, tbl):
        with pytest.raises(ValueError, match="no constraint"):
            drop_constraint(tbl, "ghost")

    def test_constraint_commit_is_invisible_to_reads(self, spark, tbl):
        n = read_committed(spark, tbl, SCH).count()
        add_constraint(spark, tbl, "nonneg", "cents >= 0")
        assert read_committed(spark, tbl, SCH).count() == n

    def test_rename_and_drop_guards(self, spark, tbl):
        add_constraint(spark, tbl, "nonneg", "cents >= 0")
        with pytest.raises(ValueError, match="DROP CONSTRAINT first"):
            rename_column(tbl, "cents", "pennies")
        with pytest.raises(ValueError, match="DROP CONSTRAINT first"):
            drop_column(tbl, "cents")
        drop_constraint(tbl, "nonneg")
        rename_column(tbl, "cents", "pennies")  # now fine

    def test_multi_constraint_errors_name_each(self, spark, tbl):
        add_constraint(spark, tbl, "nonneg", "cents >= 0")
        add_constraint(spark, tbl, "key_pos", "k >= 0")
        bad = spark.createDataFrame([(-1, -1)], SCH)
        with pytest.raises(ValueError) as e:
            enforce_constraints(spark, tbl, bad)
        assert "nonneg" in str(e.value) and "key_pos" in str(e.value)


class TestEnforcementSurfaces:
    def test_merge_upsert_rejects(self, spark, tbl):
        add_constraint(spark, tbl, "nonneg", "cents >= 0")
        v0 = len(committed_versions(tbl))
        bad = spark.createDataFrame([(1, -1)], SCH)
        with pytest.raises(ValueError, match="table constraints"):
            merge_upsert(spark, tbl, bad, keys=["k"])
        assert len(committed_versions(tbl)) == v0

    def test_replace_where_rejects(self, spark, tbl):
        add_constraint(spark, tbl, "nonneg", "cents >= 0")
        bad = spark.createDataFrame([(5, -1)], SCH)
        with pytest.raises(ValueError, match="table constraints"):
            replace_where(spark, tbl, SCH, "k", 0, 9, bad)

    def test_overwrite_table_rejects(self, spark, tbl):
        add_constraint(spark, tbl, "nonneg", "cents >= 0")
        bad = spark.createDataFrame([(5, -1)], SCH)
        with pytest.raises(ValueError, match="table constraints"):
            overwrite_table(spark, tbl, bad)

    def test_write_partitioned_rejects(self, spark, tbl):
        add_constraint(spark, tbl, "nonneg", "cents >= 0")
        bad = spark.createDataFrame([(5, -1)], SCH)
        with pytest.raises(ValueError, match="table constraints"):
            write_partitioned(
                spark, bad, tbl, col="k", kind="truncate", arg=10
            )

    def test_null_expression_passes(self, spark, tbl):
        add_constraint(spark, tbl, "nonneg", "cents >= 0")
        nulls = spark.createDataFrame([(500, None)], SCH)
        enforce_constraints(spark, tbl, nulls)  # no raise: SQL CHECK

    def test_partial_rewrite_crosses_constraint_alter(self, spark, tbl):
        """A pure-constraint alter is metadata-only: replace_where
        must NOT demand a full compaction across it."""
        add_constraint(spark, tbl, "nonneg", "cents >= 0")
        good = spark.createDataFrame([(5, 7)], SCH)
        r = replace_where(spark, tbl, SCH, "k", 0, 9, good)
        assert r["version"] > 0
