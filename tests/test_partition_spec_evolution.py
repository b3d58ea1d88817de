"""PARTITION-SPEC EVOLUTION — Iceberg's ALTER TABLE … PARTITION FIELD
as a metadata-only alter commit (``set_partition_spec``): the declared
spec changes, old files keep pruning under their own recorded spec,
new files under the new one, writers inherit the declared spec, and
maintenance's rewrites record the CURRENT spec."""

from __future__ import annotations

import datetime

import pytest

from olap_project_spark.export.manifest_sink import (
    ManifestSinkDataSource,
    MaintenancePolicy,
    current_partition_spec,
    maintain,
    metadata_aggregate,
    plan_pruned_files,
    read_committed,
    set_partition_spec,
    table_history,
    table_partitions,
    table_schema,
    write_partitioned,
)


@pytest.fixture(scope="module")
def registered(spark):
    try:
        spark.dataSource.register(ManifestSinkDataSource)
    except Exception:  # noqa: BLE001 — already registered this session
        pass
    return spark


def _events(spark, lo_day, hi_day):
    rows = [
        (datetime.datetime(2024, 1, d, h, 0), d * 100 + h)
        for d in range(lo_day, hi_day)
        for h in (0, 12)
    ]
    return spark.createDataFrame(rows, "ts timestamp, v int")


class TestDeclaredSpec:
    def test_alter_commit_and_writer_inheritance(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        write_partitioned(
            registered, _events(registered, 1, 5), path, "ts", "days",
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
            registered, _events(registered, 5, 9), path, n_files=2
        )
        assert v == 2

    def test_spec_only_alter_creates_no_naming_eras(
        self, registered, tmp_path
    ):
        """A spec evolution must not trip any rename-era machinery:
        plain reads, metadata aggregates, and schema discovery all
        behave as if never altered."""
        path = str(tmp_path / "t")
        write_partitioned(
            registered, _events(registered, 1, 3), path, "ts", "days",
            n_files=1,
        )
        set_partition_spec(path, ("ts", "month"))
        sch = table_schema(path)
        assert [f.name for f in sch.fields] == ["ts", "v"]
        assert read_committed(registered, path, sch).count() == 4
        agg = metadata_aggregate(path, minmax_cols=["v"])
        assert agg["n_rows"] == 4

    def test_rejections(self, registered, tmp_path):
        path = str(tmp_path / "t")
        with pytest.raises(ValueError, match="no recorded schema"):
            set_partition_spec(path, ("ts", "days"))
        write_partitioned(
            registered, _events(registered, 1, 3), path, "ts", "days",
            n_files=1,
        )
        with pytest.raises(ValueError, match="unknown column"):
            set_partition_spec(path, ("ghost", "days"))
        with pytest.raises(ValueError, match="transform"):
            set_partition_spec(path, ("ts", "fortnights"))


class TestMixedSpecPruning:
    def test_both_eras_prune_under_their_own_spec(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        # era A: days(ts), 4 files over Jan 1-8
        write_partitioned(
            registered, _events(registered, 1, 9), path, "ts", "days",
            n_files=4,
        )
        set_partition_spec(path, [("ts", "hours")])
        # era B: hours(ts) via writer inheritance, 4 files Jan 9-16
        write_partitioned(
            registered, _events(registered, 9, 17), path, n_files=4
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
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        write_partitioned(
            registered, _events(registered, 1, 5), path, "ts", "days",
            n_files=2,
        )
        set_partition_spec(path, ("ts", "month"))
        write_partitioned(
            registered, _events(registered, 5, 9), path, n_files=1
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
    def test_materialize_keeps_the_spec(self, registered, tmp_path):
        """maintain materializes a delete by rewriting only the file it
        hits: the reads equal the model, the rewritten file records the
        CURRENT (month) spec, and the declared spec survives."""
        from olap_project_spark.export.manifest_sink import delete_where

        path = str(tmp_path / "t")
        write_partitioned(
            registered, _events(registered, 1, 9), path, "ts", "days",
            n_files=4,
        )
        set_partition_spec(path, ("ts", "month"))
        delete_where(
            registered,
            path,
            registered.createDataFrame([(100,)], "v int"),
        )
        report = maintain(
            registered,
            path,
            None,
            MaintenancePolicy(col="v", vacuum=False),
        )
        assert report["actions"] == ["materialize"]
        want = sorted(
            tuple(r) for r in _events(registered, 1, 9).collect() if r.v != 100
        )
        got = read_committed(registered, path, table_schema(path)).collect()
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


class TestStreamAcrossMetadataAlters:
    def test_tail_passes_spec_alters(self, registered, tmp_path):
        """A spec-only alter is pure metadata: the fixed-schema tail
        reads on by DEFAULT."""
        from olap_project_spark.export.manifest_sink import (
            ensure_manifest_sink,
        )

        fmt = ensure_manifest_sink(registered)
        path = str(tmp_path / "t")
        for row in ((1, 10), (2, 20)):
            (
                registered.createDataFrame([row], "k int, v int")
                .coalesce(1)
                .write.format(fmt)
                .option("path", path)
                .mode("append")
                .save()
            )
            if row[0] == 1:
                set_partition_spec(path, ("k", "bucket", 4))
        rows = []
        q = (
            registered.readStream.format(fmt)
            .option("path", path)
            .load()
            .writeStream.foreachBatch(
                lambda df, _i: rows.extend((r.k, r.v) for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "c1"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # the metadata alter passes silently; both appends delivered
        assert sorted(rows) == [(1, 10), (2, 20)]
