"""PARTITION-SPEC EVOLUTION — Iceberg's ALTER TABLE … PARTITION FIELD
as a metadata-only alter commit (``set_partition_spec``): the declared
spec changes, old files keep pruning under their own recorded spec,
new files under the new one, writers inherit the declared spec, and
maintenance's rewrites record the CURRENT spec."""

from __future__ import annotations

import datetime

import pytest

from olap_project_spark.export.manifest_sink import (
    MaintenancePolicy,
    current_partition_spec,
    maintain,
    metadata_aggregate,
    plan_pruned_files,
    read_committed,
    read_pruned,
    save_manifest,
    set_partition_spec,
    table_history,
    table_partitions,
    table_schema,
    write_partitioned,
)


def _events(spark, lo_day, hi_day):
    rows = [
        (datetime.datetime(2024, 1, d, h, 0), d * 100 + h)
        for d in range(lo_day, hi_day)
        for h in (0, 12)
    ]
    return spark.createDataFrame(rows, "ts timestamp, v int")


class TestDeclaredSpec:
    def test_alter_commit_and_writer_inheritance(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        write_partitioned(
            spark, _events(spark, 1, 5), path, "ts", "days",
            n_files=2,
        )
        assert current_partition_spec(path) == [
            {"col": "ts", "kind": "days", "arg": None}
        ]
        v = set_partition_spec(path, ("ts", "month"))
        assert table_history(path)[-1]["kind"] == "alter"
        assert current_partition_spec(path) == [
            {"col": "ts", "kind": "month", "arg": None}
        ]
        # a writer with NO explicit transform inherits the declared spec
        write_partitioned(
            spark, _events(spark, 5, 9), path, n_files=2
        )
        assert v == 2

    def test_spec_only_alter_creates_no_naming_eras(
        self, spark, tmp_path
    ):
        """A spec evolution must not trip any rename-era machinery:
        plain reads, metadata aggregates, and schema discovery all
        behave as if never altered."""
        path = str(tmp_path / "t")
        write_partitioned(
            spark, _events(spark, 1, 3), path, "ts", "days",
            n_files=1,
        )
        set_partition_spec(path, ("ts", "month"))
        sch = table_schema(path)
        assert [f.name for f in sch.fields] == ["ts", "v"]
        assert read_committed(spark, path, sch).count() == 4
        agg = metadata_aggregate(path, minmax_cols=["v"])
        assert agg["n_rows"] == 4

    def test_rejections(self, spark, tmp_path):
        path = str(tmp_path / "t")
        with pytest.raises(ValueError, match="no recorded schema"):
            set_partition_spec(path, ("ts", "days"))
        write_partitioned(
            spark, _events(spark, 1, 3), path, "ts", "days",
            n_files=1,
        )
        with pytest.raises(ValueError, match="unknown column"):
            set_partition_spec(path, ("ghost", "days"))
        with pytest.raises(ValueError, match="transform"):
            set_partition_spec(path, ("ts", "fortnights"))


class TestMixedSpecPruning:
    def test_both_eras_prune_under_their_own_spec(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        # era A: days(ts), 4 files over Jan 1-8
        write_partitioned(
            spark, _events(spark, 1, 9), path, "ts", "days",
            n_files=4,
        )
        set_partition_spec(path, [("ts", "hours")])
        # era B: hours(ts) via writer inheritance, 4 files Jan 9-16
        write_partitioned(
            spark, _events(spark, 9, 17), path, n_files=4
        )
        # a ts range inside era A prunes era-A files by the days
        # transform AND all era-B files by the hours transform
        lo = datetime.datetime(2024, 1, 1, 0, 0)
        hi = datetime.datetime(2024, 1, 2, 23, 59)
        keep, total = plan_pruned_files(path, "ts", lo, hi)
        assert total == 8
        assert 1 <= len(keep) <= 2  # era-A prefix only
        # and a range inside era B symmetrically
        lo = datetime.datetime(2024, 1, 15, 0, 0)
        hi = datetime.datetime(2024, 1, 16, 23, 59)
        keep2, _ = plan_pruned_files(path, "ts", lo, hi)
        assert 1 <= len(keep2) <= 2
        assert not set(keep) & set(keep2)

    def test_table_partitions_references_declared_spec(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        write_partitioned(
            spark, _events(spark, 1, 5), path, "ts", "days",
            n_files=2,
        )
        set_partition_spec(path, ("ts", "month"))
        write_partitioned(
            spark, _events(spark, 5, 9), path, n_files=1
        )
        # era-A files are unaccounted under the new declared spec
        with pytest.raises(ValueError, match="no value-level"):
            table_partitions(path)
        tp = table_partitions(path, strict=False)
        spec = tp["spec"]
        spec = spec[0] if isinstance(spec, list) else spec
        assert spec["kind"] == "month"
        assert tp["unaccounted_files"] == 2
        assert [(e["partition"], e["n_rows"]) for e in tp["partitions"]] == [
            ([648], 8)
        ]


class TestMaintenancePreservesSpec:
    def test_materialize_keeps_the_spec(self, spark, tmp_path):
        """maintain materializes a delete by rewriting only the file it
        hits: the reads equal the model, the rewritten file records the
        CURRENT (month) spec, and the declared spec survives."""
        from olap_project_spark.export.manifest_sink import delete_where

        path = str(tmp_path / "t")
        write_partitioned(
            spark, _events(spark, 1, 9), path, "ts", "days",
            n_files=4,
        )
        set_partition_spec(path, ("ts", "month"))
        delete_where(
            spark,
            path,
            spark.createDataFrame([(100,)], "v int"),
        )
        report = maintain(
            spark,
            path,
            None,
            MaintenancePolicy(col="v", vacuum=False),
        )
        assert report["actions"] == ["materialize"]
        want = sorted(
            tuple(r) for r in _events(spark, 1, 9).collect() if r.v != 100
        )
        got = read_committed(spark, path, table_schema(path)).collect()
        assert sorted(tuple(r) for r in got) == want
        assert current_partition_spec(path)[0]["kind"] == "month"
        # the one rewritten file (days 1-2 less the deleted row) is
        # accounted under the month spec; the three retained files
        # were written under the days spec
        tp = table_partitions(path, strict=False)
        spec = tp["spec"]
        spec = spec[0] if isinstance(spec, list) else spec
        assert spec["kind"] == "month"
        assert tp["unaccounted_files"] == 3
        assert [(e["partition"], e["n_rows"]) for e in tp["partitions"]] == [
            ([648], 3)
        ]


class TestMaintainAcrossSpecAlter:
    def test_scoped_compaction_crosses_a_pending_alter(
        self, spark, tmp_path
    ):
        """Small-file pressure over a table whose spec changed after
        its files were written: the pass compacts the flagged ranges,
        and every read still equals the model. The retained files
        carry no range under the new spec, so pruning keeps them."""
        path = str(tmp_path / "t")
        model = []
        for i in range(6):
            rows = [(k, k * 10) for k in range(i * 10, i * 10 + 10)]
            df = spark.createDataFrame(rows, "k bigint, v bigint")
            save_manifest(df.coalesce(1), path)
            model += rows
        set_partition_spec(path, ("k", "truncate", 20))
        policy = MaintenancePolicy(
            col="k", n_ranges=2, min_files=2, vacuum=False
        )
        report = maintain(spark, path, None, policy)
        assert any(a.startswith("compact_range") for a in report["actions"])
        sch = table_schema(path)
        rows = read_committed(spark, path, sch).collect()
        assert sorted(tuple(r) for r in rows) == model
        for lo, hi in ((0, 9), (15, 42), (55, 70)):
            pruned = read_pruned(spark, path, sch, "k", lo, hi)
            rows = pruned.filter(f"k between {lo} and {hi}").collect()
            assert sorted(tuple(r) for r in rows) == [
                r for r in model if lo <= r[0] <= hi
            ]
