"""INSERT OVERWRITE — atomic truncate+insert (overwrite_table) and
predicate-scoped replaceWhere (replace_where) as ONE rewrite commit.

Covers the library surface: guards, NULL keys, retained-file pruning,
hidden-partitioning preservation and time travel.

Reference analogue: the loader's only write modes are append and
wholesale WRITE_TRUNCATE (bigquery_update_scheduler.py:247-260)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olap_project_spark.export.manifest_sink import (
    committed_versions,
    delete_where,
    overwrite_table,
    plan_pruned_files,
    read_committed,
    read_pruned,
    replace_where,
    save_manifest,
    set_partition_spec,
    table_files,
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
    """Three single-file appends with DISJOINT k ranges (0-99,
    100-199 + one NULL row, 200-299) so zone-map pruning is decisive."""
    path = str(tmp_path / "tbl")
    for lo, hi, with_null in ((0, 100, False), (100, 200, True), (200, 300, False)):
        rows = [(i, i * 10) for i in range(lo, hi)]
        if with_null:
            rows.append((None, 777))
        save_manifest(spark.createDataFrame(rows, SCH).coalesce(1), path)
    return path


def _key(row):
    return (row[0] is None, row[0] or 0)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=_key)


class TestReplaceWhere:
    def test_one_commit_prunes_and_replaces(self, spark, tbl):
        repl = spark.createDataFrame(
            [(k, 99_999) for k in range(100, 150)], SCH
        )
        v0 = len(committed_versions(tbl))
        r = replace_where(spark, tbl, SCH, "k", 100, 199, repl)
        assert len(committed_versions(tbl)) == v0 + 1
        # only the middle file overlaps; the two others are retained
        assert r["n_replaced_files"] == 1
        assert r["n_retained"] == 2
        cur = read_committed(spark, tbl, SCH)
        assert cur.count() == 100 + 50 + 100 + 1  # NULL row kept
        got = (
            cur.filter(F.col("k").between(100, 199))
            .agg(F.sum("cents").alias("s"), F.count("*").alias("n"))
            .collect()[0]
        )
        assert (got.s, got.n) == (50 * 99_999, 50)

    def test_retained_files_byte_identical(self, spark, tbl):
        before = {f["file_name"] for f in table_files(tbl)}
        repl = spark.createDataFrame([(250, 1)], SCH)
        r = replace_where(spark, tbl, SCH, "k", 200, 299, repl)
        after = {f["file_name"] for f in table_files(tbl)}
        # the 200-299 file overlaps by zone map; the NULL-bearing
        # 100-199 file is CONSERVATIVELY rewritten (a null-tainted
        # zone map never proves exclusion); the 0-99 file is retained
        # under its own name, byte-identical
        assert r["n_replaced_files"] == 2
        assert r["n_retained"] == 1
        assert len(before & after) == 1

    def test_null_keys_survive_and_violate(self, spark, tbl):
        # a NULL-key committed row in a replaced file is KEPT
        repl = spark.createDataFrame([(150, 5)], SCH)
        replace_where(spark, tbl, SCH, "k", 100, 199, repl)
        cur = read_committed(spark, tbl, SCH)
        assert cur.filter(F.col("k").isNull()).count() == 1
        # a NULL-key INSERT row violates the range constraint
        bad = spark.createDataFrame([(None, 5)], SCH)
        with pytest.raises(ValueError, match="violate"):
            replace_where(spark, tbl, SCH, "k", 0, 99, bad)

    def test_out_of_range_rows_reject_before_commit(self, spark, tbl):
        v0 = len(committed_versions(tbl))
        bad = spark.createDataFrame([(500, 1)], SCH)
        with pytest.raises(ValueError, match="violate"):
            replace_where(spark, tbl, SCH, "k", 0, 99, bad)
        assert len(committed_versions(tbl)) == v0  # nothing landed

    def test_time_travel_reads_pre_replace_state(self, spark, tbl):
        pre = read_committed(spark, tbl, SCH).agg(F.sum("cents")).collect()[0][0]
        v0 = max(committed_versions(tbl))
        repl = spark.createDataFrame([(100, 0)], SCH)
        replace_where(spark, tbl, SCH, "k", 100, 199, repl)
        old = read_committed(spark, tbl, SCH, as_of=v0)
        assert old.agg(F.sum("cents")).collect()[0][0] == pre

    def test_empty_replacement_is_a_range_delete(self, spark, tbl):
        empty = spark.createDataFrame([], SCH)
        replace_where(spark, tbl, SCH, "k", 200, 299, empty)
        cur = read_committed(spark, tbl, SCH)
        assert cur.filter(F.col("k") >= 200).count() == 0
        assert cur.count() == 201  # 0-199 + NULL row

    def test_rejects_unmaterialized_tombstones(self, spark, tbl):
        keys = spark.createDataFrame([(5,)], "k long")
        delete_where(spark, tbl, keys)
        repl = spark.createDataFrame([(100, 0)], SCH)
        with pytest.raises(ValueError, match="compact_snapshots"):
            replace_where(spark, tbl, SCH, "k", 100, 199, repl)

    def test_replaces_across_pending_spec_alter(self, spark, tbl):
        # the retained files were written under no spec, so they carry
        # no transform range and every pruned read keeps them
        set_partition_spec(tbl, ("k", "truncate", 100))
        repl = spark.createDataFrame([(100, 0)], SCH)
        replace_where(spark, tbl, SCH, "k", 100, 199, repl)
        want = (
            [(i, i * 10) for i in range(100)]
            + [(100, 0), (None, 777)]
            + [(i, i * 10) for i in range(200, 300)]
        )
        assert _rows(read_committed(spark, tbl, SCH)) == sorted(want, key=_key)
        for lo, hi in ((0, 99), (100, 199), (150, 250)):
            got = read_pruned(spark, tbl, SCH, "k", lo, hi)
            assert _rows(got.filter(F.col("k").between(lo, hi))) == [
                r for r in want if r[0] is not None and lo <= r[0] <= hi
            ]

    def test_preserves_hidden_partitioning(self, spark, tmp_path):
        path = str(tmp_path / "part")
        df = spark.createDataFrame(
            [(i, i * 10) for i in range(1000)], SCH
        )
        write_partitioned(
            spark, df, path, col="k", kind="truncate", arg=100, n_files=8
        )
        repl = spark.createDataFrame(
            [(k, -1) for k in range(200, 300)], SCH
        )
        r = replace_where(spark, path, SCH, "k", 200, 299, repl)
        assert r["n_retained"] >= 1
        # pruning still works after the replace: a probe outside the
        # replaced range opens a strict subset of files
        files, total = plan_pruned_files(path, "k", 700, 799)
        assert 0 < len(files) < total
        cur = read_committed(spark, path, SCH)
        assert cur.filter(F.col("k").between(200, 299)).agg(
            F.sum("cents")
        ).collect()[0][0] == -100


class TestOverwriteTable:
    def test_full_swap_is_one_commit_and_time_travels(self, spark, tbl):
        v0 = max(committed_versions(tbl))
        pre = read_committed(spark, tbl, SCH).count()
        v = overwrite_table(
            spark, tbl, spark.createDataFrame([(1, 2), (3, 4)], SCH)
        )
        assert v == v0 + 1
        assert read_committed(spark, tbl, SCH).count() == 2
        assert read_committed(spark, tbl, SCH, as_of=v0).count() == pre

    def test_materializes_pending_tombstones(self, spark, tbl):
        # unlike replace_where, a full overwrite needs no guard
        delete_where(spark, tbl, spark.createDataFrame([(5,)], "k long"))
        overwrite_table(spark, tbl, spark.createDataFrame([(9, 9)], SCH))
        assert read_committed(spark, tbl, SCH).count() == 1

    def test_preserves_declared_spec(self, spark, tmp_path):
        path = str(tmp_path / "part2")
        df = spark.createDataFrame([(i, i) for i in range(500)], SCH)
        write_partitioned(
            spark, df, path, col="k", kind="truncate", arg=50, n_files=4
        )
        overwrite_table(
            spark,
            path,
            spark.createDataFrame([(i, -i) for i in range(500)], SCH),
        )
        files, total = plan_pruned_files(path, "k", 0, 49)
        assert 0 < len(files) < total  # new files still prune
