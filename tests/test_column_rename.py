"""COLUMN RENAME — Delta column-mapping / Iceberg field-ID rename as a
metadata-only ``kind='alter'`` commit: per-era reads through the
manifest-recorded write schemas, chaining, composition with add-column
evolution, time travel and restore below the rename, compaction-driven
era collapse, and the strict guards on every name-keyed surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olap_project_spark.export.manifest_sink import (
    ManifestSinkDataSource,
    compact_snapshots,
    delete_where,
    metadata_aggregate,
    read_changes,
    read_evolved,
    rename_column,
    restore_table,
    table_history,
    table_schema,
)


@pytest.fixture(scope="module")
def registered(spark):
    try:
        spark.dataSource.register(ManifestSinkDataSource)
    except Exception:  # noqa: BLE001 — already registered this session
        pass
    return spark


def _write(spark, path, rows, schema):
    (
        spark.createDataFrame(rows, schema)
        .coalesce(1)
        .write.format("manifest_sink")
        .option("path", path)
        .mode("append")
        .save()
    )


class TestRenameSemantics:
    def test_rename_is_metadata_only_and_reads_across_eras(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a"), (2, "b")], "id int, name string")
        v = rename_column(path, "name", "label")
        assert table_history(path)[-1]["kind"] == "alter"
        assert table_history(path)[-1]["n_files"] == 0  # zero data
        assert [f.name for f in table_schema(path).fields] == [
            "id",
            "label",
        ]
        _write(registered, path, [(3, "c")], "id int, label string")
        rows = sorted(
            (r.id, r.label)
            for r in read_evolved(registered, path).collect()
        )
        # the pre-rename file serves its column under the NEW name
        assert rows == [(1, "a"), (2, "b"), (3, "c")]
        assert v == 2

    def test_chained_renames_compose(self, registered, tmp_path):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        _write(registered, path, [(2, "b")], "id int, label string")
        rename_column(path, "label", "tag")
        rows = sorted(
            (r.id, r.tag) for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, "a"), (2, "b")]

    def test_time_travel_and_restore_keep_old_names(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        assert [f.name for f in table_schema(path, as_of=1).fields] == [
            "id",
            "name",
        ]
        old = read_evolved(registered, path, as_of=1)
        assert [(r.id, r.name) for r in old.collect()] == [(1, "a")]
        restore_table(path, 1)
        assert [f.name for f in table_schema(path).fields] == ["id", "name"]

    def test_add_column_after_rename_composes(self, registered, tmp_path):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        _write(
            registered,
            path,
            [(2, "b", 7)],
            "id int, label string, extra int",
        )
        rows = sorted(
            (r.id, r.label, r.extra)
            for r in read_evolved(registered, path).collect()
        )
        # era-1 file: renamed column served, added column null-backfilled
        assert rows == [(1, "a", None), (2, "b", 7)]

    def test_compaction_collapses_eras(self, registered, tmp_path):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        _write(registered, path, [(2, "b")], "id int, label string")
        # field-id translation answers EXACTLY while eras are live —
        # the pre-rename file's stats serve under the new name
        agg = metadata_aggregate(path, minmax_cols=["label"])
        assert agg["cols"]["label"] == {
            "nulls": 0,
            "non_null": 2,
            "min": "a",
            "max": "b",
        }
        compact_snapshots(registered, path, None)
        # ...and identically once collapsed
        agg = metadata_aggregate(path, minmax_cols=["label"])
        assert agg["cols"]["label"] == {
            "nulls": 0,
            "non_null": 2,
            "min": "a",
            "max": "b",
        }
        rows = sorted(
            (r.id, r.label)
            for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, "a"), (2, "b")]


class TestRenameGuards:
    def test_rejections(self, registered, tmp_path):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        with pytest.raises(ValueError, match="not in schema"):
            rename_column(path, "ghost", "x")
        with pytest.raises(ValueError, match="already exists"):
            rename_column(path, "name", "id")
        _write(registered, path, [(2, "b")], "id int, name string", )
        (
            registered.createDataFrame([(9, "z")], "id int, name string")
            .coalesce(1)
            .write.format("manifest_sink")
            .option("path", path)
            .option("branch", "audit")
            .mode("append")
            .save()
        )
        with pytest.raises(ValueError, match="audit"):
            rename_column(path, "name", "label")

    def test_old_name_write_after_rename_rejected(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        _write(registered, path, [(2, "b")], "id int, name string")
        # discovery catches the era violation (the add-only rule sees
        # the renamed column as dropped)
        with pytest.raises(ValueError, match="add-only"):
            table_schema(path)

    def test_public_reader_reads_across_rename_cdf_guarded(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        # the public reader resolves pre-rename files via field ids
        got = (
            registered.read.format("manifest_sink")
            .option("path", path)
            .load()
            .collect()
        )
        assert [(r.id, r.label) for r in got] == [(1, "a")]
        sch = table_schema(path)
        with pytest.raises(ValueError, match="rename"):
            read_changes(registered, path, sch, 0, 2).collect()
        # a delete AFTER the rename folds era-correctly (the segmented
        # fold applies each tombstone under its own segment's names)
        delete_where(
            registered, path, registered.createDataFrame([(1,)], "id int")
        )
        assert read_evolved(registered, path).count() == 0
        # ...and the public reader applies the same tombstone
        assert (
            registered.read.format("manifest_sink")
            .option("path", path)
            .load()
            .count()
            == 0
        )


class TestRenameComposition:
    def test_stream_always_stops_at_rename(self, registered, tmp_path):
        """Even skipChangeCommits cannot cross a rename: a fixed-schema
        tail would silently null the renamed column on one side of the
        boundary, so the stream raises and demands a restart."""
        from olap_project_spark.export.manifest_sink import (
            ensure_manifest_sink,
        )

        fmt = ensure_manifest_sink(registered)
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        q = (
            registered.readStream.format(fmt)
            .option("path", path)
            .option("skipChangeCommits", "true")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="rename"):
            q.awaitTermination(120)
            if q.exception() is not None:
                raise q.exception()


class TestDropColumn:
    def test_drop_is_metadata_only_and_projects_out(
        self, registered, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import drop_column

        path = str(tmp_path / "t")
        _write(
            registered, path, [(1, "a", 10.0), (2, "b", 20.0)],
            "id int, name string, amt double",
        )
        v = drop_column(path, "amt")
        assert table_history(path)[-1]["kind"] == "alter"
        assert table_history(path)[-1]["n_files"] == 0
        assert [f.name for f in table_schema(path).fields] == ["id", "name"]
        _write(registered, path, [(3, "c")], "id int, name string")
        df = read_evolved(registered, path)
        assert df.columns == ["id", "name"]
        assert sorted((r.id, r.name) for r in df.collect()) == [
            (1, "a"),
            (2, "b"),
            (3, "c"),
        ]
        # time travel below the drop still reads the column's bytes
        old = read_evolved(registered, path, as_of=1)
        assert sorted((r.id, r.amt) for r in old.collect()) == [
            (1, 10.0),
            (2, 20.0),
        ]
        assert v == 2

    def test_drop_composes_with_rename_and_guards_readd(
        self, registered, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import drop_column

        path = str(tmp_path / "t")
        _write(
            registered, path, [(1, "a", 1.0)],
            "id int, name string, amt double",
        )
        drop_column(path, "amt")
        rename_column(path, "name", "label")
        rows = sorted(
            (r.id, r.label)
            for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, "a")]
        # re-using the dropped name is rejected at discovery (a
        # name-based era read would resurrect the retired values)
        _write(
            registered, path, [(9, "z", 5.0)],
            "id int, label string, amt double",
        )
        with pytest.raises(ValueError, match="re-adds"):
            table_schema(path)

    def test_drop_rejections(self, registered, tmp_path):
        from olap_project_spark.export.manifest_sink import drop_column

        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        with pytest.raises(ValueError, match="not in schema"):
            drop_column(path, "ghost")
        drop_column(path, "name")
        with pytest.raises(ValueError, match="only column"):
            drop_column(path, "id")

    def test_compaction_clears_the_readd_guard(self, registered, tmp_path):
        from olap_project_spark.export.manifest_sink import drop_column

        path = str(tmp_path / "t")
        _write(
            registered, path, [(1, "a", 1.0)],
            "id int, name string, amt double",
        )
        drop_column(path, "amt")
        compact_snapshots(registered, path, None)
        # the consolidated files carry no ghost bytes: the name is free
        _write(
            registered, path, [(2, "b", 9.0)],
            "id int, name string, amt double",
        )
        rows = sorted(
            (r.id, r.amt)
            for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, None), (2, 9.0)]


class TestSegmentedFold:
    """Round-12: the era read is a SEGMENTED FOLD — tombstones apply
    under the names of their own segment, alters transform the state —
    so row-level ops and renames compose in any interleaving (the two
    wedges the round-11 advice flagged: delete-then-rename could only
    be compacted after an undocumented vacuum, and rename-then-delete
    rejected forever)."""

    def test_delete_then_rename_reads_and_compacts(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(
            registered, path, [(1, "a"), (2, "b"), (3, "c")],
            "id int, name string",
        )
        delete_where(
            registered, path, registered.createDataFrame([(2,)], "id int")
        )
        rename_column(path, "name", "label")
        rows = sorted(
            (r.id, r.label)
            for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, "a"), (3, "c")]
        # the advertised remedy now actually works: compaction
        # materializes the tombstones AND collapses the eras
        compact_snapshots(registered, path, None)
        rows = sorted(
            (r.id, r.label)
            for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, "a"), (3, "c")]
        # post-compaction, the strict metadata surfaces answer again
        assert metadata_aggregate(path)["n_rows"] == 2

    def test_rename_then_delete_then_append_sequencing(
        self, registered, tmp_path
    ):
        """A key re-inserted AFTER its delete survives (the
        sequence-number rule), across a rename boundary."""
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a"), (2, "b")], "id int, name string")
        rename_column(path, "name", "label")
        delete_where(
            registered, path, registered.createDataFrame([(1,)], "id int")
        )
        _write(registered, path, [(1, "z")], "id int, label string")
        rows = sorted(
            (r.id, r.label)
            for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, "z"), (2, "b")]

    def test_merge_across_rename(self, registered, tmp_path):
        from olap_project_spark.export.manifest_sink import merge_upsert

        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a"), (2, "b")], "id int, name string")
        rename_column(path, "name", "label")
        merge_upsert(
            registered,
            path,
            registered.createDataFrame(
                [(2, "B"), (3, "C")], "id int, label string"
            ),
            keys=["id"],
        )
        rows = sorted(
            (r.id, r.label)
            for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, "a"), (2, "B"), (3, "C")]

    def test_drop_then_rename_reuse_is_rejected_at_write(
        self, registered, tmp_path
    ):
        """Renaming onto a name a live-era drop retired would make
        name-keyed stats serve the dropped generation — rejected until
        a compaction rewrites the live files (round-11 advice, high)."""
        from olap_project_spark.export.manifest_sink import drop_column

        path = str(tmp_path / "t")
        _write(
            registered, path, [(1, "a", 9.0)],
            "id int, name string, amt double",
        )
        drop_column(path, "amt")
        with pytest.raises(ValueError, match="dropped"):
            rename_column(path, "name", "amt")
        # compaction rewrites the live files without the ghost bytes:
        # the name is free again
        compact_snapshots(registered, path, None)
        rename_column(path, "name", "amt")
        rows = [
            (r.id, r.amt) for r in read_evolved(registered, path).collect()
        ]
        assert rows == [(1, "a")]

    def test_delete_key_added_after_old_era_backfills_null(
        self, registered, tmp_path
    ):
        """A tombstone keyed on a column added after an old era never
        matches that era's rows (null keys don't equal) — identical to
        what the name-based fold did at the original sequence point."""
        path = str(tmp_path / "t")
        _write(registered, path, [(1,)], "id int")
        _write(registered, path, [(2, "x")], "id int, src string")
        rename_column(path, "src", "origin")
        delete_where(
            registered,
            path,
            registered.createDataFrame([("x",)], "origin string"),
        )
        rows = sorted(
            (r.id, r.origin)
            for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, None)]

    def test_historical_materialized_tombstones_dont_block(
        self, registered, tmp_path
    ):
        """delete → compact → rename: the old delete manifest persists
        below the rewrite but is already materialized; the era read,
        metadata aggregates, and table$partitions must not reject on
        it (round-11 advice, medium ×2)."""
        from olap_project_spark.export.manifest_sink import (
            write_partitioned,
        )

        path = str(tmp_path / "t")
        _write(
            registered, path, [(1, "a"), (2, "b")], "id int, name string"
        )
        delete_where(
            registered, path, registered.createDataFrame([(1,)], "id int")
        )
        compact_snapshots(registered, path, None)
        rename_column(path, "name", "label")
        rows = [
            (r.id, r.label)
            for r in read_evolved(registered, path).collect()
        ]
        assert rows == [(2, "b")]
        # metadata_aggregate answers exactly: the long-materialized
        # tombstone doesn't block, and the rename resolves by field id
        agg = metadata_aggregate(path, cols=["id"])
        assert agg["n_rows"] == 1
        compact_snapshots(registered, path, None)
        assert metadata_aggregate(path, cols=["id"])["n_rows"] == 1

    def test_metadata_aggregate_rejects_unknown_column(
        self, registered, tmp_path
    ):
        """A typo must never be indistinguishable from an all-null
        added column (round-11 advice, low)."""
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        with pytest.raises(ValueError, match="unknown column"):
            metadata_aggregate(path, cols=["nam"])
        with pytest.raises(ValueError, match="unknown column"):
            metadata_aggregate(path, minmax_cols=["idd"])
