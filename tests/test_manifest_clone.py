"""Zero-copy CLONE of the manifest table: full-history manifest replay
+ hard-linked staging files. Pins independence in both directions,
time-travel and tag carriage, hard-link vacuum-proofness (the Delta
shallow-clone hazard this design removes), and the refusal contracts."""

from __future__ import annotations

import os

import pytest

from olap_project_spark.export.manifest_sink import (
    clone_table,
    committed_versions,
    compact_snapshots,
    delete_where,
    list_tags,
    read_committed,
    restore_table,
    save_manifest,
    table_schema,
    tag_snapshot,
    vacuum_snapshots,
)

SCHEMA = "k bigint, v string"


def _write(spark, path, rows, **opts):
    df = spark.createDataFrame(rows, SCHEMA).repartition(1)
    save_manifest(df, path, **opts)


def _state(spark, path, as_of=None):
    sch = table_schema(path, as_of=as_of)
    return sorted(
        (r.k, r.v)
        for r in read_committed(spark, path, sch, as_of=as_of).collect()
    )


class TestCloneBasics:
    def test_clone_replays_history_zero_copy(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        _write(spark, src, [(1, "a"), (2, "b")])  # v1
        _write(spark, src, [(3, "c")])  # v2
        delete_where(
            spark, src, spark.createDataFrame([(2,)], "k bigint")
        )  # v3
        tag_snapshot(src, "gold", 2)
        stats = clone_table(src, dst)
        assert stats["versions_cloned"] == 3
        assert stats["copied_fallback"] == 0  # same fs: pure links
        assert stats["files_linked"] >= 3
        # head state, time travel, and tags all carried
        assert _state(spark, dst) == [(1, "a"), (3, "c")]
        assert _state(spark, dst, as_of=2) == [
            (1, "a"),
            (2, "b"),
            (3, "c"),
        ]
        assert list_tags(dst) == {"gold": 2}
        assert committed_versions(dst) == [1, 2, 3]
        # the data files share inodes (zero bytes moved)
        s = os.path.join(src, "_staging")
        d = os.path.join(dst, "_staging")
        for name in os.listdir(d):
            assert os.path.samefile(
                os.path.join(s, name), os.path.join(d, name)
            )

    def test_clone_as_of_takes_a_prefix(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        _write(spark, src, [(1, "a")])  # v1
        _write(spark, src, [(2, "b")])  # v2
        stats = clone_table(src, dst, as_of=1)
        assert stats["versions_cloned"] == 1
        assert _state(spark, dst) == [(1, "a")]

    def test_divergence_is_invisible_both_ways(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        _write(spark, src, [(1, "a")])
        clone_table(src, dst)
        _write(spark, dst, [(9, "z")])
        _write(spark, src, [(7, "s")])
        assert _state(spark, src) == [(1, "a"), (7, "s")]
        assert _state(spark, dst) == [(1, "a"), (9, "z")]
        # each side restores/rolls back independently too
        restore_table(dst, 1)
        assert _state(spark, dst) == [(1, "a")]
        assert _state(spark, src) == [(1, "a"), (7, "s")]

    def test_clone_is_vacuum_proof(self, spark, tmp_path):
        """The Delta shallow-clone hazard: source VACUUM deletes files
        the clone references. Hard links keep the inode alive — the
        clone survives a full source expiry."""
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        _write(spark, src, [(1, "a")])
        _write(spark, src, [(2, "b")])
        clone_table(src, dst)
        compact_snapshots(spark, src, SCHEMA)
        stats = vacuum_snapshots(src)
        assert stats["expired_files"] > 0
        assert _state(spark, dst) == [(1, "a"), (2, "b")]
        # and time travel on the clone still reads the linked files
        assert _state(spark, dst, as_of=1) == [(1, "a")]


class TestCloneRejections:
    def test_refuses_nonempty_destination(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        _write(spark, src, [(1, "a")])
        _write(spark, dst, [(2, "b")])
        with pytest.raises(ValueError, match="already holds"):
            clone_table(src, dst)

    def test_refuses_empty_source_and_bad_as_of(
        self, spark, tmp_path
    ):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        with pytest.raises(ValueError, match="no committed"):
            clone_table(src, dst)
        _write(spark, src, [(1, "a")])
        with pytest.raises(ValueError, match="not a readable"):
            clone_table(src, dst, as_of=9)

    def test_branch_staged_commits_not_cloned(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        _write(spark, src, [(1, "a")])  # v1 main
        _write(spark, src, [(2, "b")], branch="audit")  # v2 staged
        stats = clone_table(src, dst)
        assert stats["versions_cloned"] == 1
        assert _state(spark, dst) == [(1, "a")]
        assert committed_versions(dst) == [1]


class TestCloneOfRestoredTable:
    def test_clone_carries_restore_semantics(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        _write(spark, src, [(1, "a")])  # v1
        _write(spark, src, [(2, "b")])  # v2
        restore_table(src, 1)  # v3
        clone_table(src, dst)
        assert _state(spark, dst) == [(1, "a")]
        assert _state(spark, dst, as_of=2) == [(1, "a"), (2, "b")]
