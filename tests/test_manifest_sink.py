"""Exactly-once manifest-commit sink: committed files are readable,
uncommitted staging output is invisible, appends accumulate."""

from __future__ import annotations

import json
import os

import pytest

from olap_project_spark.export.manifest_sink import (
    read_committed,
    save_manifest,
)


SCHEMA = "k bigint, v string"


def _write(spark, path, rows):
    save_manifest(spark.createDataFrame(rows, SCHEMA).repartition(4), path)


class TestManifestSink:
    def test_round_trip_and_manifest_shape(self, spark, tmp_path):
        path = str(tmp_path / "wh")
        rows = [(i, f"v{i}") for i in range(100)]
        _write(spark, path, rows)
        manifests = [e for e in os.listdir(path) if e.startswith("_manifest-")]
        assert len(manifests) == 1
        m = json.load(open(os.path.join(path, manifests[0])))
        assert m["n_rows"] == 100 and len(m["files"]) == 4
        back = read_committed(spark, path, SCHEMA)
        assert sorted((r["k"], r["v"]) for r in back.collect()) == rows

    def test_appends_accumulate_one_manifest_each(self, spark, tmp_path):
        path = str(tmp_path / "wh2")
        _write(spark, path, [(1, "a")])
        _write(spark, path, [(2, "b")])
        assert read_committed(spark, path, SCHEMA).count() == 2
        assert (
            len([e for e in os.listdir(path) if e.startswith("_manifest-")]) == 2
        )

    def test_uncommitted_staging_is_invisible(self, spark, tmp_path):
        path = str(tmp_path / "wh3")
        _write(spark, path, [(1, "a")])
        # simulate a crashed attempt: orphan staging file, no manifest
        orphan = os.path.join(path, "_staging", "part-deadbeef.jsonl")
        with open(orphan, "w") as f:
            f.write(json.dumps({"k": 99, "v": "ghost"}) + "\n")
        got = read_committed(spark, path, SCHEMA)
        assert [r["k"] for r in got.collect()] == [1]


class TestTimeTravel:
    def test_as_of_reads_each_snapshot(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            read_committed,
            table_versions,
        )

        path = str(tmp_path / "tt")
        schema = "k bigint, v string"
        save_manifest(spark.createDataFrame([(1, "a")], schema), path)
        save_manifest(spark.createDataFrame([(2, "b")], schema), path)
        versions = table_versions(path)
        assert versions == [1, 2]
        from pyspark.sql.types import StructType

        sch = spark.createDataFrame([(1, "a")], schema).schema
        v1 = read_committed(spark, path, sch, as_of=1)
        assert sorted(r["k"] for r in v1.collect()) == [1]
        v2 = read_committed(spark, path, sch, as_of=2)
        assert sorted(r["k"] for r in v2.collect()) == [1, 2]
        latest = read_committed(spark, path, sch)
        assert sorted(r["k"] for r in latest.collect()) == [1, 2]

    def test_manifest_carries_its_version(self, spark, tmp_path):
        import json
        import os

        path = str(tmp_path / "ver")
        save_manifest(
            spark.createDataFrame([(1, "a")], "k bigint, v string"), path
        )
        entries = [e for e in os.listdir(path) if e.startswith("_manifest-")]
        assert entries == ["_manifest-000001.json"]
        m = json.load(open(os.path.join(path, entries[0])))
        assert m["version"] == 1


class TestCompaction:
    def test_rewrite_preserves_state_and_time_travel(
        self, spark, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            compact_snapshots,
            read_committed,
            table_versions,
        )

        path = str(tmp_path / "cmp")
        schema = "k bigint, v string"
        sch = spark.createDataFrame([(0, "x")], schema).schema
        for k, v in [(1, "a"), (2, "b"), (3, "c")]:
            save_manifest(spark.createDataFrame([(k, v)], schema), path)
        ver = compact_snapshots(spark, path, sch)
        assert ver == 4
        # state after compaction == state before
        latest = read_committed(spark, path, sch)
        assert sorted(r["k"] for r in latest.collect()) == [1, 2, 3]
        # time travel to pre-compaction versions still works
        v2 = read_committed(spark, path, sch, as_of=2)
        assert sorted(r["k"] for r in v2.collect()) == [1, 2]
        # appends after compaction stack on the rewrite base
        save_manifest(spark.createDataFrame([(4, "d")], schema), path)
        after = read_committed(spark, path, sch)
        assert sorted(r["k"] for r in after.collect()) == [1, 2, 3, 4]
        assert table_versions(path) == [1, 2, 3, 4, 5]


class TestVacuum:
    """Snapshot expiry + orphan GC (the Iceberg expire_snapshots /
    Delta VACUUM contract on the manifest table)."""

    def test_vacuum_collects_orphans_and_expires_to_rewrite_base(
        self, spark, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            compact_snapshots,
            table_versions,
            vacuum_snapshots,
        )

        from olap_project_spark.export.manifest_sink import table_history

        path = str(tmp_path / "whv")
        _write(spark, path, [(i, f"a{i}") for i in range(3)])
        _write(spark, path, [(i, f"b{i}") for i in (10, 11)])
        n_append_files = sum(h["n_files"] for h in table_history(path))
        # a failed attempt whose abort never ran
        orphan = os.path.join(path, "_staging", "part-zombie.jsonl")
        with open(orphan, "w") as f:
            f.write('{"k": 99, "v": "zombie"}\n')
        base = compact_snapshots(spark, path, SCHEMA)
        assert base == 3
        before = sorted(
            (r["k"], r["v"])
            for r in read_committed(spark, path, SCHEMA).collect()
        )
        stats = vacuum_snapshots(path)
        assert stats["orphans_deleted"] == 1 and not os.path.exists(orphan)
        # both append manifests expired with exactly THEIR staging
        # files (one file per non-empty partition — the lazy-create
        # writer stages nothing for empty ones, so the count is read
        # from the manifests rather than pinned to a partitioner's
        # row placement)
        assert stats["expired_manifests"] == 2
        assert stats["expired_files"] == n_append_files
        assert stats["kept_versions"] == [3] == table_versions(path)
        after = sorted(
            (r["k"], r["v"])
            for r in read_committed(spark, path, SCHEMA).collect()
        )
        assert after == before  # current state untouched
        # time travel is SHORTENED, not corrupted: expired reads are empty
        assert read_committed(spark, path, SCHEMA, as_of=1).count() == 0
        assert read_committed(spark, path, SCHEMA, as_of=3).count() == 5

    def test_vacuum_without_rewrite_removes_only_orphans(
        self, spark, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            table_versions,
            vacuum_snapshots,
        )

        path = str(tmp_path / "whn")
        _write(spark, path, [(1, "x")])
        with open(os.path.join(path, "_staging", "part-orphan.jsonl"), "w") as f:
            f.write('{"k": 2, "v": "y"}\n')
        stats = vacuum_snapshots(path)
        assert stats["orphans_deleted"] == 1
        assert stats["expired_manifests"] == 0 and stats["expired_files"] == 0
        assert table_versions(path) == [1]
        assert read_committed(spark, path, SCHEMA).count() == 1

    def test_vacuum_rejects_non_rewrite_base(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            compact_snapshots,
            vacuum_snapshots,
        )

        path = str(tmp_path / "whr")
        _write(spark, path, [(1, "x")])
        _write(spark, path, [(2, "y")])
        compact_snapshots(spark, path, SCHEMA)
        with pytest.raises(ValueError, match="not a main rewrite"):
            vacuum_snapshots(path, keep_from=2)

    def test_vacuum_is_idempotent(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            compact_snapshots,
            vacuum_snapshots,
        )

        path = str(tmp_path / "whi")
        _write(spark, path, [(1, "x")])
        compact_snapshots(spark, path, SCHEMA)
        first = vacuum_snapshots(path)
        assert first["expired_manifests"] == 1
        second = vacuum_snapshots(path)
        assert second["orphans_deleted"] == 0
        assert second["expired_manifests"] == 0
        assert second["expired_files"] == 0
        assert read_committed(spark, path, SCHEMA).count() == 1


# ---------------------------------------------------------------------------
# Property: under ANY sequence of appends / planted orphans / compactions
# / vacuums, the committed state never changes except by appends, and
# vacuum only ever removes what is provably dead (orphans + manifests
# before the latest rewrite base).
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

op_strategy = st.sampled_from(["append", "orphan", "compact", "vacuum"])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(op_strategy, min_size=1, max_size=6))
def test_vacuum_preserves_committed_state(spark, tmp_path, ops):
    from olap_project_spark.export.manifest_sink import (
        compact_snapshots,
        table_versions,
        vacuum_snapshots,
    )

    path = str(tmp_path / ("whp_" + "".join(o[0] for o in ops)))
    model: list[tuple[int, str]] = []  # expected committed rows
    next_k = 0
    latest_rewrite = None
    for op in ops:
        if op == "append":
            rows = [(next_k + i, f"r{next_k + i}") for i in range(2)]
            next_k += 2
            _write(spark, path, rows)
            model.extend(rows)
        elif op == "orphan":
            staging = os.path.join(path, "_staging")
            os.makedirs(staging, exist_ok=True)
            with open(os.path.join(staging, f"part-orphan{next_k}.jsonl"), "w") as f:
                f.write('{"k": -1, "v": "zombie"}\n')
        elif op == "compact":
            if not table_versions(path):
                continue  # nothing committed yet
            latest_rewrite = compact_snapshots(spark, path, SCHEMA)
        elif op == "vacuum":
            if not os.path.isdir(path):
                continue
            stats = vacuum_snapshots(path)
            if latest_rewrite is not None:
                assert min(stats["kept_versions"]) >= latest_rewrite
        if os.path.isdir(path):
            got = sorted(
                (r["k"], r["v"])
                for r in read_committed(spark, path, SCHEMA).collect()
            )
            assert got == sorted(model)
    # terminal orphan sweep is always safe and total
    if os.path.isdir(path):
        vacuum_snapshots(path)
        got = sorted(
            (r["k"], r["v"])
            for r in read_committed(spark, path, SCHEMA).collect()
        )
        assert got == sorted(model)


class TestSchemaEvolution:
    def test_non_additive_evolution_rejected(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import table_schema

        path = str(tmp_path / "evo_bad")
        _write(spark, path, [(1, "a")])
        # a write that DROPS column v must be caught, naming its version
        save_manifest(
            spark.createDataFrame([(2,)], "k bigint").coalesce(1), path
        )
        with pytest.raises(ValueError, match="version 2 .* differs"):
            table_schema(path)
        # as of the first version the table still has its one schema
        assert table_schema(path, as_of=1).simpleString() == (
            "struct<k:bigint,v:string>"
        )

    @pytest.mark.parametrize(
        "entry, key",
        [
            ({"kind": "alter", "rename": {"v": "label"}}, "rename"),
            ({"kind": "analyze", "ndv": {}}, "analyze"),
        ],
        ids=["rename", "analyze"],
    )
    def test_retired_log_entries_rejected(
        self, spark, tmp_path, entry, key
    ):
        """A log entry written by a retired table verb (here a column
        rename and a distinct-value sketch) is refused by every fold,
        naming its version and key — a read past the rename would
        return the renamed column as nulls."""
        from olap_project_spark.export.manifest_sink import table_schema

        path = str(tmp_path / "retired")
        _write(spark, path, [(1, "a")])
        m = {**entry, "files": [], "version": 2}
        with open(os.path.join(path, "_manifest-000002.json"), "w") as f:
            json.dump(m, f)
        want = f"version 2 .*'{key}'"
        with pytest.raises(ValueError, match=want):
            read_committed(spark, path, SCHEMA)
        with pytest.raises(ValueError, match=want):
            table_schema(path)

    def test_schemaless_legacy_manifests_tolerated(
        self, spark, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import table_schema

        path = str(tmp_path / "legacy")
        _write(spark, path, [(1, "a")])
        # simulate a pre-evolution manifest: strip the schema field
        m_file = next(
            os.path.join(path, e)
            for e in os.listdir(path)
            if e.startswith("_manifest-")
        )
        m = json.load(open(m_file))
        m.pop("schema", None)
        json.dump(m, open(m_file, "w"))
        assert table_schema(path) is None
        # read_committed with an explicit schema still works unchanged
        back = read_committed(spark, path, SCHEMA)
        assert back.count() == 1


class TestFileSkipping:
    def test_zone_maps_prune_files_not_rows(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            plan_pruned_files,
            read_pruned,
        )

        path = str(tmp_path / "zm")
        # three disjoint key ranges → three single-file appends
        for lo in (0, 100, 200):
            rows = [(lo + i, f"v{lo + i}") for i in range(50)]
            save_manifest(
                spark.createDataFrame(rows, SCHEMA).coalesce(1), path
            )
        files, total = plan_pruned_files(path, "k", 120, 130)
        assert total == 3 and len(files) == 1
        got = (
            read_pruned(spark, path, SCHEMA, "k", 120, 130)
            .filter("k BETWEEN 120 AND 130")
            .count()
        )
        assert got == 11
        # skipping may drop FILES, never ROWS: equal to the full scan
        full = (
            read_committed(spark, path, SCHEMA)
            .filter("k BETWEEN 120 AND 130")
            .count()
        )
        assert got == full

    def test_files_without_stats_conservatively_kept(
        self, spark, tmp_path
    ):
        import json as _json

        from olap_project_spark.export.manifest_sink import plan_pruned_files

        path = str(tmp_path / "zm_legacy")
        _write(spark, path, [(1, "a"), (2, "b")])
        m_file = next(
            os.path.join(path, e)
            for e in os.listdir(path)
            if e.startswith("_manifest-")
        )
        m = _json.load(open(m_file))
        # a genuinely pre-stats manifest records neither zone maps nor
        # row counts (a recorded rows=0 file IS provably excludable —
        # the round-11 empty-file rule — so it must go too)
        m.pop("file_stats", None)
        m.pop("file_rows", None)
        _json.dump(m, open(m_file, "w"))
        files, total = plan_pruned_files(path, "k", 10**9, 10**9 + 1)
        assert len(files) == total  # nothing provably excludable

    def test_null_bearing_column_never_prunes(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import plan_pruned_files

        path = str(tmp_path / "zm_nulls")
        save_manifest(
            spark.createDataFrame([(1, "a"), (None, "b")], SCHEMA)
            .coalesce(1),
            path,
        )
        files, total = plan_pruned_files(path, "k", 10**9, 10**9 + 1)
        assert len(files) == total == 1  # null seen → zone map disabled


class TestVersionDelta:
    def test_delta_reads_only_new_rows(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import read_version_delta

        path = str(tmp_path / "cdf")
        _write(spark, path, [(i, f"v{i}") for i in range(10)])
        _write(spark, path, [(i, f"v{i}") for i in range(10, 25)])
        d01 = read_version_delta(spark, path, SCHEMA, 0, 1)
        d12 = read_version_delta(spark, path, SCHEMA, 1, 2)
        assert d01.count() == 10 and d12.count() == 15
        assert read_version_delta(spark, path, SCHEMA, 2, 2).count() == 0

    def test_delta_across_rewrite_rejected(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            compact_snapshots,
            read_version_delta,
        )

        path = str(tmp_path / "cdf_rw")
        _write(spark, path, [(1, "a")])
        _write(spark, path, [(2, "b")])
        compact_snapshots(spark, path, SCHEMA)  # version 3 = rewrite
        with pytest.raises(ValueError, match="rewrite"):
            read_version_delta(spark, path, SCHEMA, 1, 3)
        # a delta range before the rewrite still works
        assert read_version_delta(spark, path, SCHEMA, 0, 2).count() == 2


class TestColumnarDataPlane:
    """Round 9: the staging files under the manifest table are parquet
    (columnar data plane). The commit/skip/CDF/evolution contracts are
    format-agnostic and stay pinned by the classes above; these pin the
    columnar properties — file format, column pruning in the physical
    plan, predicate pushdown into the scan, and the JSONL migration
    path."""

    def test_staging_files_are_parquet(self, spark, tmp_path):
        path = str(tmp_path / "colwh")
        _write(spark, path, [(i, f"v{i}") for i in range(20)])
        staging = os.listdir(os.path.join(path, "_staging"))
        assert staging and all(n.endswith(".parquet") for n in staging)

    def test_committed_scan_prunes_columns_and_pushes_filters(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "colwh2")
        _write(spark, path, [(i, f"v{i}") for i in range(50)])
        scan = read_committed(spark, path, SCHEMA).select("k").filter(
            "k = 7"
        )
        plan = scan._jdf.queryExecution().executedPlan().toString()
        # column pruning: the parquet scan reads ONLY k, not v
        assert "ReadSchema: struct<k:bigint>" in plan, plan
        # predicate pushdown: the filter reaches the scan
        assert "EqualTo(k,7)" in plan, plan
        assert scan.count() == 1

    def test_legacy_jsonl_files_remain_readable(self, spark, tmp_path):
        """Pre-columnar tables (JSONL staging files) still read, and a
        compaction migrates them to parquet — the format-migration
        story."""
        from olap_project_spark.export.manifest_sink import (
            compact_snapshots,
        )

        path = str(tmp_path / "legacy")
        # new-format commit first
        _write(spark, path, [(1, "new")])
        # hand-write a legacy JSONL commit (what the pre-round-9 writer
        # produced): a staging .jsonl file + a manifest referencing it
        staging = os.path.join(path, "_staging")
        with open(os.path.join(staging, "part-legacy0.jsonl"), "w") as f:
            f.write(json.dumps({"k": 2, "v": "old"}) + "\n")
        with open(os.path.join(path, "_manifest-000002.json"), "w") as f:
            json.dump(
                {
                    "kind": "append",
                    "files": ["part-legacy0.jsonl"],
                    "n_rows": 1,
                    "version": 2,
                },
                f,
            )
        back = read_committed(spark, path, SCHEMA)
        assert sorted((r.k, r.v) for r in back.collect()) == [
            (1, "new"),
            (2, "old"),
        ]
        # compaction rewrites the mixed table into pure parquet
        compact_snapshots(spark, path, SCHEMA)
        from olap_project_spark.export.manifest_sink import _committed_files

        assert all(
            n.endswith(".parquet") for n, _ in _committed_files(path)
        )
        assert read_committed(spark, path, SCHEMA).count() == 2

    def test_scoped_delete_reads_legacy_jsonl_files(self, spark, tmp_path):
        """A delete followed by a re-insert scopes its filter to the files
        it precedes by ``_metadata.file_name``; the legacy JSONL scan
        takes that filter too, and a legacy JSONL tombstone still
        deletes its keys, also when ``maintain`` materializes them."""
        from olap_project_spark.export.manifest_sink import (
            MaintenancePolicy,
            delete_where,
            maintain,
        )

        path = str(tmp_path / "legacy_scoped")
        _write(spark, path, [(1, "new")])
        staging = os.path.join(path, "_staging")
        legacy = {
            "part-legacy0.jsonl": [{"k": k, "v": "old"} for k in (2, 3, 4)],
            "part-legacy1.jsonl": [{"k": 3}],
        }
        for name, rows in legacy.items():
            with open(os.path.join(staging, name), "w") as f:
                f.write("".join(json.dumps(r) + "\n" for r in rows))
        key_schema = {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
        for version, m in (
            (2, {"kind": "append", "files": ["part-legacy0.jsonl"]}),
            (3, {"kind": "delete", "files": ["part-legacy1.jsonl"],
                 "schema": key_schema}),
        ):
            with open(
                os.path.join(path, f"_manifest-{version:06d}.json"), "w"
            ) as f:
                json.dump({**m, "n_rows": 1, "version": version}, f)
        delete_where(
            spark, path, spark.createDataFrame([(1,), (2,)], "k bigint")
        )
        _write(spark, path, [(2, "again")])
        for _ in range(2):  # the fold, then the materialized table
            back = read_committed(spark, path, SCHEMA)
            assert sorted((r.k, r.v) for r in back.collect()) == [
                (2, "again"),
                (4, "old"),
            ]
            maintain(spark, path, SCHEMA, MaintenancePolicy(col="k"))
        assert not [n for n in os.listdir(staging) if n.endswith(".jsonl")]


class TestVacuumInFlightGuard:
    def test_orphan_gc_skipped_under_in_flight_commit(
        self, spark, tmp_path
    ):
        """A version file claimed via O_EXCL but not yet replaced with
        content is a commit in flight: its freshly-written staging
        files are unreferenced by any parseable manifest and must NOT
        be GC'd as orphans. The guard disables orphan deletion for the
        run (and reports it), instead of relying on the documented
        maintenance-window precondition."""
        from olap_project_spark.export.manifest_sink import (
            vacuum_snapshots,
        )

        path = str(tmp_path / "vwh")
        _write(spark, path, [(1, "a")])
        staging = os.path.join(path, "_staging")
        # the in-flight commit: claimed (empty) version file + its
        # freshly-written staging data
        open(os.path.join(path, "_manifest-000002.json"), "w").close()
        live = os.path.join(staging, "part-inflight.parquet")
        with open(live, "wb") as f:
            f.write(b"PAR1")
        # plus a genuine orphan that WOULD be deleted in a clean run
        with open(os.path.join(staging, "part-orphan.jsonl"), "w") as f:
            f.write("{}\n")
        stats = vacuum_snapshots(path)
        assert stats["in_flight_commits"] == 1
        assert stats["orphans_deleted"] == 0
        assert os.path.exists(live)  # the live commit's data survived
        # once the commit completes (file now parseable), GC resumes
        with open(os.path.join(path, "_manifest-000002.json"), "w") as f:
            json.dump(
                {
                    "kind": "append",
                    "files": ["part-inflight.parquet"],
                    "n_rows": 0,
                    "version": 2,
                },
                f,
            )
        stats2 = vacuum_snapshots(path)
        assert stats2["in_flight_commits"] == 0
        assert stats2["orphans_deleted"] == 1
        assert os.path.exists(live)


class TestDeletionVectors:
    """Round 9: Iceberg-v2-style equality deletes — merge-on-read
    tombstones, sequence-correct reinsertion, time travel to undeleted
    states, pruned reads that never resurrect rows, the append-only
    CDF guard, and compaction as the materialization point."""

    def _table(self, spark, tmp_path):
        path = str(tmp_path / "dv")
        _write(spark, path, [(i, f"v{i}") for i in range(5)])  # v1
        from olap_project_spark.export.manifest_sink import delete_where

        delete_where(
            spark, path, spark.createDataFrame([(1,), (3,)], "k bigint")
        )  # v2
        _write(spark, path, [(1, "reborn")])  # v3
        return path

    def test_merge_on_read_with_reinsert(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        got = sorted(
            (r.k, r.v) for r in read_committed(spark, path, SCHEMA).collect()
        )
        # keys 1 and 3 deleted at v2; key 1 re-inserted at v3 SURVIVES
        # (the sequence-number rule) while 3 stays gone
        assert got == [(0, "v0"), (1, "reborn"), (2, "v2"), (4, "v4")]

    def test_time_travel_spans_the_delete(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        assert read_committed(spark, path, SCHEMA, as_of=1).count() == 5
        assert read_committed(spark, path, SCHEMA, as_of=2).count() == 3

    def test_pruned_read_applies_tombstones(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import read_pruned

        path = self._table(spark, tmp_path)
        got = sorted(
            r.k for r in read_pruned(spark, path, SCHEMA, "k", 0, 9).collect()
        )
        assert got == [0, 1, 2, 4]

    def test_cdf_rejects_delete_crossing_range(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import read_version_delta

        path = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="delete"):
            read_version_delta(spark, path, SCHEMA, 1, 3)
        # ranges not crossing the delete still work
        assert read_version_delta(spark, path, SCHEMA, 2, 3).count() == 1

    def test_compaction_materializes_deletes(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            _committed_files,
            compact_snapshots,
            table_history,
            vacuum_snapshots,
        )

        path = self._table(spark, tmp_path)
        before = sorted(
            (r.k, r.v) for r in read_committed(spark, path, SCHEMA).collect()
        )
        compact_snapshots(spark, path, SCHEMA)
        hist = table_history(path)
        assert [h["kind"] for h in hist] == [
            "append",
            "delete",
            "append",
            "rewrite",
        ]
        # post-compaction state identical, now tombstone-free
        after = sorted(
            (r.k, r.v) for r in read_committed(spark, path, SCHEMA).collect()
        )
        assert after == before
        vacuum_snapshots(path)
        assert sorted(
            (r.k, r.v) for r in read_committed(spark, path, SCHEMA).collect()
        ) == before
        # no tombstone manifests survive the expiry
        from olap_project_spark.export.manifest_sink import _log

        assert [m.get("kind") for _, m in _log(path)] == ["rewrite"]

    def test_delete_schema_excluded_from_evolution(self, spark, tmp_path):
        """The tombstone key schema is a SUBSET of the table schema by
        design; it must not trip the add-only evolution check."""
        from olap_project_spark.export.manifest_sink import table_schema

        path = self._table(spark, tmp_path)
        sch = table_schema(path)
        assert sch is not None and {f.name for f in sch.fields} == {"k", "v"}


class TestWriteAuditPublish:
    """Round 9: WAP branches — branch-tagged commits claim versions in
    the shared sequence but stay invisible to main readers until
    published (atomic tag drop); publish is fast-forward-only; a red
    audit abandons the branch with pure GC."""

    def _w(self, spark, path, rows, branch=None):
        df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
        save_manifest(df, path, **({"branch": branch} if branch else {}))

    def test_branch_isolation_and_publish(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import publish_branch

        path = str(tmp_path / "wap")
        self._w(spark, path, [(0, "a"), (1, "b")])
        self._w(spark, path, [(2, "staged")], branch="audit")
        # main readers blind to the staged commit; the branch reader
        # sees main + staged (branch-from-main-head)
        assert read_committed(spark, path, SCHEMA).count() == 2
        assert (
            read_committed(spark, path, SCHEMA, branch="audit").count()
            == 3
        )
        assert publish_branch(path, "audit") == [2]
        assert read_committed(spark, path, SCHEMA).count() == 3

    def test_abandon_is_pure_gc(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            _committed_files,
            abandon_branch,
        )

        path = str(tmp_path / "wap2")
        self._w(spark, path, [(0, "a")])
        self._w(spark, path, [(1, "BAD")], branch="audit")
        assert abandon_branch(path, "audit") == 1
        assert read_committed(spark, path, SCHEMA).count() == 1
        # no dangling staging files: every staging file is referenced
        staging = os.listdir(os.path.join(path, "_staging"))
        referenced = {f for f, _ in _committed_files(path)}
        assert set(staging) == referenced

    def test_publish_is_fast_forward_only(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import publish_branch

        path = str(tmp_path / "wap3")
        self._w(spark, path, [(0, "a")])
        self._w(spark, path, [(1, "staged")], branch="b")
        self._w(spark, path, [(2, "mainmoved")])  # main advances
        with pytest.raises(ValueError, match="fast-forward"):
            publish_branch(path, "b")
        # main unaffected by the failed publish
        assert read_committed(spark, path, SCHEMA).count() == 2


# ---------------------------------------------------------------------------
# Round 9: the same arbitrary-interleaving discipline over the FULL
# table-format surface — appends, equality deletes, WAP branch cycles
# (stage+publish / stage+abandon), orphans, compaction, vacuum — with a
# pure-Python model of the committed state checked after every step.
# ---------------------------------------------------------------------------
lifecycle_op = st.sampled_from(
    ["append", "delete", "stage_publish", "stage_abandon",
     "orphan", "compact", "vacuum"]
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(lifecycle_op, min_size=2, max_size=7))
def test_full_lifecycle_preserves_committed_state(
    spark, tmp_path, ops
):
    from olap_project_spark.export.manifest_sink import (
        abandon_branch,
        compact_snapshots,
        delete_where,
        publish_branch,
        table_versions,
        vacuum_snapshots,
    )

    path = str(tmp_path / ("wfl_" + "".join(o[0] for o in ops)))
    model: list[tuple[int, str]] = []
    next_k = 0
    latest_rewrite = None
    for op in ops:
        if op == "append":
            rows = [(next_k + i, f"r{next_k + i}") for i in range(2)]
            next_k += 2
            _write(spark, path, rows)
            model.extend(rows)
        elif op == "delete":
            if not model:
                continue
            k = model[0][0]
            delete_where(
                spark,
                path,
                spark.createDataFrame([(k,)], "k bigint").repartition(1),
            )
            model = [r for r in model if r[0] != k]
        elif op == "stage_publish":
            rows = [(next_k, f"b{next_k}")]
            next_k += 1
            save_manifest(
                spark.createDataFrame(rows, SCHEMA).repartition(1),
                path,
                branch="wip",
            )
            # main must not see it until the publish
            got = sorted(
                (r["k"], r["v"])
                for r in read_committed(spark, path, SCHEMA).collect()
            )
            assert got == sorted(model)
            publish_branch(path, "wip")
            model.extend(rows)
        elif op == "stage_abandon":
            save_manifest(
                spark.createDataFrame([(-9, "bad")], SCHEMA)
                .repartition(1),
                path,
                branch="trash",
            )
            abandon_branch(path, "trash")
        elif op == "orphan":
            staging = os.path.join(path, "_staging")
            os.makedirs(staging, exist_ok=True)
            with open(
                os.path.join(staging, f"part-orphan{next_k}.jsonl"), "w"
            ) as f:
                f.write('{"k": -1, "v": "zombie"}\n')
        elif op == "compact":
            if not table_versions(path):
                continue
            latest_rewrite = compact_snapshots(spark, path, SCHEMA)
        elif op == "vacuum":
            if not os.path.isdir(path):
                continue
            stats = vacuum_snapshots(path)
            if latest_rewrite is not None:
                assert min(stats["kept_versions"]) >= latest_rewrite
        if os.path.isdir(path):
            got = sorted(
                (r["k"], r["v"])
                for r in read_committed(spark, path, SCHEMA).collect()
            )
            assert got == sorted(model), op


class TestWriterFailureAndReporting:
    def test_write_closes_parquet_writer_when_input_fails(
        self, tmp_path, monkeypatch
    ):
        """An exception raised by the batch iterator part-way through a
        task must still close the task's ParquetWriter."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import LongType, StructField, StructType

        from olap_project_spark.export.manifest_sink import ManifestWriter

        opened = []
        real = pq.ParquetWriter

        class Tracking(real):
            def __init__(self, *a, **kw):
                super().__init__(*a, **kw)
                opened.append(self)

        monkeypatch.setattr(pq, "ParquetWriter", Tracking)
        schema = StructType([StructField("k", LongType())])
        writer = ManifestWriter({"path": str(tmp_path / "t")}, schema=schema)
        writer.BATCH_ROWS = 2  # flush (and open the file) on the first batch

        def batches():
            yield pa.record_batch([pa.array([1, 2, 3], pa.int64())], names=["k"])
            raise RuntimeError("input failed mid-task")

        with pytest.raises(RuntimeError, match="mid-task"):
            writer.write(batches())
        assert len(opened) == 1
        assert not opened[0].is_open

    def test_save_manifest_reports_files_of_all_empty_commit(
        self, spark, tmp_path
    ):
        """An all-empty commit stages one empty file; the returned
        n_files is the count the manifest records."""
        from olap_project_spark.export.manifest_sink import (
            save_manifest,
            table_history,
        )

        path = str(tmp_path / "empty")
        st = save_manifest(spark.range(0).selectExpr("id AS k"), path)
        (entry,) = table_history(path)
        assert st == {"n_rows": 0, "n_files": entry["n_files"]}
        assert entry["n_files"] == 1


@pytest.mark.parametrize("phase", ["task", "before_claim", "after_claim"])
def test_failed_save_is_invisible_and_retry_commits_once(
    spark, tmp_path, phase
):
    """save_manifest fails at one commit phase: a task raises mid-write;
    every task wrote and the driver fails before the version claim; or
    the version is claimed and the driver fails before the manifest is
    moved into place. The committed state is the pre-commit model, one
    retry commits the rows exactly once, and vacuum (with a stale-claim
    TTL for the crashed claim) removes the failed attempt's files."""
    import time

    from olap_project_spark.export import manifest_sink as ms

    path = str(tmp_path / phase)
    staging = os.path.join(path, "_staging")
    _write(spark, path, [(0, "base")])
    model = [(0, "base")]
    rows = [(i, f"r{i}") for i in range(1, 41)]
    df = spark.createDataFrame(rows, SCHEMA).repartition(4)

    def state():
        return sorted(
            (r["k"], r["v"])
            for r in read_committed(spark, path, SCHEMA).collect()
        )

    if phase == "task":

        def lose_last_task(batches):
            from pyspark import TaskContext

            for b in batches:
                yield b
                if TaskContext.get().partitionId() == 3:
                    time.sleep(1.0)  # let the other tasks stage their files
                    raise RuntimeError("task lost mid-write")

        with pytest.raises(Exception, match="task lost mid-write"):
            save_manifest(df.mapInArrow(lose_last_task, df.schema), path)
    else:

        class LoseDriver(ms.PosixVersionClaimer):
            def claim(self, p, version):
                if phase == "after_claim":
                    assert super().claim(p, version)
                raise RuntimeError(f"driver lost {phase}")

        prev = ms.set_version_claimer(LoseDriver())
        try:
            with pytest.raises(RuntimeError, match="driver lost"):
                save_manifest(df, path)
        finally:
            ms.set_version_claimer(prev)
    assert state() == model
    assert len(os.listdir(staging)) > 1  # the failed attempt's residue
    save_manifest(df, path)  # the retry
    assert state() == sorted(model + rows)
    stats = ms.vacuum_snapshots(path, stale_claim_ttl_s=0.0)
    assert stats["orphans_deleted"] >= 1
    assert stats["stale_claims_deleted"] == (phase == "after_claim")
    referenced = {f for _v, m in ms._log(path) for f in m["files"]}
    assert set(os.listdir(staging)) == referenced
    assert state() == sorted(model + rows)
