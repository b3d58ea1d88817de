"""RESTORE (Delta ``RESTORE TABLE ... TO VERSION AS OF``) on the
manifest table: a metadata-only ``kind='restore'`` commit expanded by
the effective-log reader, preserving time travel below it, chaining,
row-level CDF as a symmetric diff, and the vacuum guard that keeps
snapshot expiry from cutting a restore's target out from under it.

Reference analogue: the reference's only recovery story is re-running
the daily export DAG over yesterday's partition directories
(bigquery_update_scheduler.py:163-231) — recovery by reprocessing;
here recovery is one O(1) catalog commit."""

from __future__ import annotations

import os

import pytest

from olap_project_spark.export.manifest_sink import (
    committed_versions,
    compact_snapshots,
    delete_where,
    merge_upsert,
    plan_pruned_files,
    read_changes,
    read_committed,
    read_version_delta,
    restore_table,
    save_manifest,
    table_files,
    table_history,
    table_schema,
    vacuum_snapshots,
)

SCHEMA = "k bigint, v string"


def _write(spark, path, rows, n_parts=1, **opts):
    df = spark.createDataFrame(rows, SCHEMA).repartition(n_parts)
    save_manifest(df, path, **opts)


def _state(spark, path, as_of=None):
    sch = table_schema(path, as_of=as_of)
    return sorted(
        (r.k, r.v)
        for r in read_committed(spark, path, sch, as_of=as_of).collect()
    )


class TestRestoreSemantics:
    def test_restore_reverts_state_and_keeps_history(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a"), (2, "b")])  # v1
        _write(spark, path, [(3, "c")])  # v2
        delete_where(
            spark, path, spark.createDataFrame([(2,)], "k bigint")
        )  # v3
        _write(spark, path, [(4, "d")])  # v4
        assert _state(spark, path) == [(1, "a"), (3, "c"), (4, "d")]

        rv = restore_table(path, 2)
        assert rv == 5
        # head state == the target's state, INCLUDING the row the v3
        # tombstone had removed (restore replays the original prefix)
        assert _state(spark, path) == [(1, "a"), (2, "b"), (3, "c")]
        # time travel below the restore is untouched
        assert _state(spark, path, as_of=4) == [
            (1, "a"),
            (3, "c"),
            (4, "d"),
        ]
        assert _state(spark, path, as_of=2) == [
            (1, "a"),
            (2, "b"),
            (3, "c"),
        ]
        # history shows the restore event; no version disappears
        kinds = {h["version"]: h["kind"] for h in table_history(path)}
        assert kinds[5] == "restore"
        assert committed_versions(path) == [1, 2, 3, 4, 5]

    def test_append_after_restore_builds_on_restored_state(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1
        _write(spark, path, [(2, "b")])  # v2
        restore_table(path, 1)  # v3
        _write(spark, path, [(9, "z")])  # v4
        assert _state(spark, path) == [(1, "a"), (9, "z")]
        # table$files reflects the restored live set + the new file
        live = {f["version"] for f in table_files(path)}
        assert live == {1, 4}

    def test_chained_restore_and_restore_of_a_restore(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1
        _write(spark, path, [(2, "b")])  # v2
        r1 = restore_table(path, 1)  # v3 -> {1}
        _write(spark, path, [(3, "c")])  # v4 -> {1,3}
        restore_table(path, 2)  # v5 -> {1,2}
        assert _state(spark, path) == [(1, "a"), (2, "b")]
        # restoring TO a restore version lands on its effective state
        restore_table(path, r1)  # v6 -> {1}
        assert _state(spark, path) == [(1, "a")]
        restore_table(path, 4)  # v7 -> {1,3}
        assert _state(spark, path) == [(1, "a"), (3, "c")]

    def test_restore_across_merge_upsert(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a"), (2, "b")])  # v1
        merge_upsert(
            spark,
            path,
            spark.createDataFrame([(2, "B"), (5, "e")], SCHEMA),
            keys=["k"],
        )  # v2
        assert _state(spark, path) == [(1, "a"), (2, "B"), (5, "e")]
        restore_table(path, 1)
        assert _state(spark, path) == [(1, "a"), (2, "b")]

    def test_pruning_follows_the_restored_state(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1: k in [1,1]
        _write(spark, path, [(100, "big")])  # v2: k in [100,100]
        restore_table(path, 1)
        keep, total = plan_pruned_files(path, "k", 100, 100)
        # the v2 file is no longer live, so the probe prunes EVERYTHING
        assert keep == [] and total == 1


class TestRestoreCdfAndStreams:
    def test_read_changes_emits_symmetric_diff(self, spark, tmp_path):
        path = str(tmp_path / "t")
        # duplicate rows on purpose: exceptAll must diff multiplicities
        _write(spark, path, [(1, "a"), (1, "a")])  # v1
        _write(spark, path, [(2, "b")])  # v2
        restore_table(path, 1)  # v3
        sch = table_schema(path)
        ch = read_changes(spark, path, sch, 2, 3).collect()
        tagged = sorted((r.k, r._change_type, r._commit_version) for r in ch)
        assert tagged == [(2, "delete", 3)]
        # and a restore that RE-ADDS rows emits inserts
        _write(spark, path, [(3, "c")])  # v4
        restore_table(path, 2)  # v5: brings back (2,'b')
        ch2 = read_changes(spark, path, sch, 4, 5).collect()
        tagged2 = sorted(
            (r.k, r._change_type, r._commit_version) for r in ch2
        )
        assert tagged2 == [(2, "insert", 5), (3, "delete", 5)]

    def test_file_level_feeds_reject_a_restore_in_range(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1
        _write(spark, path, [(2, "b")])  # v2
        restore_table(path, 1)  # v3
        sch = table_schema(path)
        with pytest.raises(ValueError, match="restore"):
            read_version_delta(spark, path, sch, 0, 3)


class TestRestoreRejections:
    def test_rejects_unknown_or_inflight_target(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1
        with pytest.raises(ValueError, match="not a readable"):
            restore_table(path, 7)
        # an in-flight claim (empty manifest file) is not restorable
        open(os.path.join(path, "_manifest-000002.json"), "w").close()
        with pytest.raises(ValueError, match="not a readable"):
            restore_table(path, 2)

    def test_rejects_while_branch_staged(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1
        _write(spark, path, [(2, "b")], branch="audit")  # staged
        with pytest.raises(ValueError, match="audit"):
            restore_table(path, 1)


class TestRestoreVacuumInterplay:
    def test_expiry_refuses_to_cut_a_restore_target(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1
        _write(spark, path, [(2, "b")])  # v2
        compact_snapshots(spark, path, SCHEMA)  # v3 rewrite
        _write(spark, path, [(3, "c")])  # v4
        restore_table(path, 2)  # v5 targets BELOW the rewrite
        with pytest.raises(ValueError, match="restore"):
            vacuum_snapshots(path, keep_from=3)
        # the documented remedy: compact AFTER the restore and anchor
        # on that rewrite — the restore (and its pre-anchor targets)
        # then expire together, with the state preserved
        rw = compact_snapshots(spark, path, SCHEMA)  # v6
        stats = vacuum_snapshots(path, keep_from=rw)
        assert stats["expired_manifests"] == 5
        assert _state(spark, path) == [(1, "a"), (2, "b")]

    def test_expiry_allows_restore_above_anchor(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1
        compact_snapshots(spark, path, SCHEMA)  # v2 rewrite
        _write(spark, path, [(2, "b")])  # v3
        restore_table(path, 2)  # v4 targets the anchor itself
        stats = vacuum_snapshots(path, keep_from=2)
        assert stats["expired_manifests"] == 1  # v1 expired
        assert _state(spark, path) == [(1, "a")]
        # time travel to the restored target still works post-expiry
        assert _state(spark, path, as_of=2) == [(1, "a")]

    def test_compaction_after_restore_materializes_it(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1
        _write(spark, path, [(2, "b")])  # v2
        restore_table(path, 1)  # v3
        compact_snapshots(spark, path, SCHEMA)  # v4 rewrite
        assert _state(spark, path) == [(1, "a")]
        stats = vacuum_snapshots(path)  # anchors on the rewrite
        assert stats["expired_manifests"] == 3
        assert _state(spark, path) == [(1, "a")]


class TestRestoreSchemaInterplay:
    def test_schema_reverts_with_the_restore(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])  # v1, (k, v)
        wide = spark.createDataFrame(
            [(2, "b", 7)], "k bigint, v string, w bigint"
        )
        # v2, a second schema (k, v, w): the table is unreadable
        save_manifest(wide.repartition(1), path)
        with pytest.raises(ValueError, match="version 2"):
            table_schema(path)
        restore_table(path, 1)  # the restored log holds v1 only
        assert [f.name for f in table_schema(path).fields] == ["k", "v"]

